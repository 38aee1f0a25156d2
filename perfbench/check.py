"""Checks of the program's outputs against DuckDB: postings and occurrence
totals of the built index, boolean query counts, and the oracle-backed ops
gates. The ops oracles run before the timed work, the compares after the JVM
has written its result. Each check returns a list of (what, ok) pairs."""
import os

import duckdb
import pyarrow.parquet as pq

TOKENS = """
CREATE VIEW tok AS SELECT url, term FROM (
  SELECT url, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
  FROM read_parquet('{corpus}/*.parquet')) t WHERE term <> ''
"""


def build(con, claim):
    pairs, occ = con.execute(
        "SELECT (SELECT count(*) FROM (SELECT DISTINCT url, term FROM tok)),"
        " (SELECT count(*) FROM tok)").fetchone()
    return [("index postings equal distinct (doc, term) pairs", claim["postings"] == pairs),
            ("index occurrences equal corpus tokens", claim["occurrences"] == occ)]


def counts(con, claims):
    """and/or counts against sets of documents per term over the corpus."""
    terms = sorted({t for c in claims for t in c["terms"]})
    if not terms:
        return []
    con.execute("CREATE TEMP TABLE qt(term VARCHAR)")
    con.executemany("INSERT INTO qt VALUES (?)", [(t,) for t in terms])
    docs = {t: set() for t in terms}
    for url, term in con.execute(
            "SELECT DISTINCT url, term FROM tok WHERE term IN (SELECT term FROM qt)").fetchall():
        docs[term].add(url)
    out = []
    for c in claims:
        sets = [docs[t] for t in set(c["terms"])]
        want = len(set.intersection(*sets) if c["op"] == "and" else set.union(*sets))
        out.append((f"{c['op']} count of {c['terms']} equals the set computation",
                    c["matches"] == want))
    return out


def _canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _connect(work):
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(work, 'duckdb-tmp')}'")
    con.execute("SET threads=4")
    return con


def oracle_wants(work, oracles):
    """Each oracle-backed gate's DuckDB oracleSql result over the ops tables'
    files. It depends on the inputs alone, so it is computed before the
    timed work starts."""
    con = _connect(work)
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(work, 'ops', t + '.parquet')}/*.parquet')")
    return {o["gate"]: _canon(con.execute(o["sql"]).fetchdf()) for o in oracles}


def ops(work, wants):
    """Each gate the JVM wrote out equals its DuckDB oracle."""
    out = []
    for gate, want in wants.items():
        got = _canon(pq.read_table(os.path.join(work, "ops-out", gate)).to_pandas())
        ok = (list(got.columns) == list(want.columns) and len(got) == len(want)
              and all(got[c].tolist() == want[c].tolist() for c in got.columns))
        out.append((f"{gate} equals its DuckDB oracle", ok))
    return out


def run_all(work, claims, wants):
    con = _connect(work)
    out = []
    if "build" in claims or "counts" in claims:
        con.execute(TOKENS.format(corpus=os.path.join(work, "corpus")))
    if "build" in claims:
        out += build(con, claims["build"])
    if "counts" in claims:
        out += counts(con, claims["counts"])
    return out + ops(work, wants)
