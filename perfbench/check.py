"""Output check against the program's DuckDB oracle SQL.

Both sides are normalized the way the repository's oracle compare does
it (columns sorted by name, floats rounded to six places, every value as
a string, rows kept in the query's own total order) and reduced to one
hash. The expected hash is computed by DuckDB over the generated corpus
only on a cache miss, keyed by the corpus fingerprint and the hash of the
oracle SQL, because the oracle for the heavy queries costs far more than
the run that is checked.
"""
import glob
import hashlib
import json
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def digest(b):
    return hashlib.sha256(b).hexdigest()


def fingerprint(corpus):
    """Hash of every input file's path and content."""
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(corpus, "*.parquet", "*.parquet"))):
        h.update(os.path.relpath(p, corpus).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def normalized_hash(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
    df = df.reset_index(drop=True)
    rows = df.astype(str).values.tolist()
    return digest(json.dumps([list(df.columns), rows]).encode()), len(rows)


def expected(work, corpus, sqls):
    """name -> (hash, rows) of the oracle's answer, cached on disk."""
    import duckdb

    fp = fingerprint(corpus)
    cache_dir = os.path.join(work, "expected", fp[:24])
    os.makedirs(cache_dir, exist_ok=True)
    out, con = {}, None
    for name, sql in sqls.items():
        path = os.path.join(cache_dir, digest(sql.encode())[:24] + ".json")
        if not os.path.exists(path):
            if con is None:
                con = duckdb.connect()
                con.execute("SET threads TO 4")
                con.execute(f"SET temp_directory = '{os.path.join(work, 'duckdb-tmp')}'")
                for t in TABLES:
                    if glob.glob(os.path.join(corpus, f"{t}.parquet", "*.parquet")):
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                    f"read_parquet('{corpus}/{t}.parquet/*.parquet')")
            h, n = normalized_hash(con.execute(sql).df())
            with open(path + ".tmp", "w") as f:
                json.dump({"hash": h, "rows": n}, f)
            os.replace(path + ".tmp", path)
        with open(path) as f:
            e = json.load(f)
        out[name] = (e["hash"], e["rows"])
    if con is not None:
        con.close()
    return out


def check(work, corpus, dump_dir, dumped, corrupt=False):
    """Compare every dumped output with its oracle; name -> reason."""
    import pandas as pd

    exp = expected(work, corpus, dumped)
    if corrupt and exp:
        first = sorted(exp)[0]
        exp[first] = ("0" * 64, exp[first][1])
    bad = {}
    for name in sorted(dumped):
        files = sorted(glob.glob(os.path.join(dump_dir, name, "*.parquet")))
        if not files:
            bad[name] = "no output dumped"
            continue
        got, rows = normalized_hash(pd.concat([pd.read_parquet(f) for f in files]))
        want, want_rows = exp[name]
        if got != want:
            bad[name] = f"hash mismatch ({rows} rows vs oracle {want_rows})"
    return bad
