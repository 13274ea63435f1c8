"""Output checks for the perfbench workloads, run outside the timed window.

* ``llm_dedup``: each query's Spark output (parquet written by the last
  set-up's cold pass) is compared with DuckDB running the engine's own
  oracle SQL (``SparkEntry.oracleSql``) over the generated tables, one
  seed-chosen replica at a time: columns sorted by name, values
  stringified, rows sorted.
* ``corral_mr``: the TSV files ``graft.Main`` wrote are compared with
  DuckDB SQL over the generated text and CSV inputs.

Both check functions return ``{name: (ok, rows, message)}``.
"""
import glob
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pandas as pd

import gen

TOL = 2e-6  # corral prints averages with six decimals ("%f")


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        df[c] = df[c].map(repr)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _id_columns(df):
    return [c for c in df.columns
            if c.endswith(("_id", "_a", "_b")) and pd.api.types.is_integer_dtype(df[c])]


def check_queries(data_dir, check_dir, oracles, replica):
    """Compare one replica's slice: DuckDB runs each oracle over that
    replica's rows only, and the Spark output is cut to the rows whose
    ids all fall in the replica. The cipher keeps replicas apart (no
    cross-replica pair clears any Jaccard threshold), so the slice is the
    oracle's full answer for those rows. Oracles run concurrently."""
    lo, hi = replica * gen.REPLICA_OFFSET, (replica + 1) * gen.REPLICA_OFFSET
    con = duckdb.connect()
    con.execute(f"""CREATE VIEW documents AS SELECT * FROM
        '{data_dir}/documents.parquet' WHERE doc_id >= {lo} AND doc_id < {hi}""")

    def one(item):
        name, sql = item
        files = glob.glob(f"{check_dir}/{name}/*.parquet")
        if not files:
            return name, (False, 0, "no spark output")
        got = pd.concat([pd.read_parquet(p) for p in files])
        ids = _id_columns(got)
        if not ids:
            return name, (False, len(got), "no id column to slice on")
        keep = pd.Series(True, index=got.index)
        for c in ids:
            keep &= (got[c] >= lo) & (got[c] < hi)
        got = _canon(got[keep.values])
        exp = _canon(con.cursor().execute(sql).fetchdf())
        if list(got.columns) != list(exp.columns):
            return name, (False, len(got), f"columns {list(got.columns)} vs {list(exp.columns)}")
        if len(got) != len(exp):
            return name, (False, len(got), f"rows {len(got)} vs {len(exp)}")
        if not got.equals(exp):
            bad = int((got != exp).any(axis=1).sum())
            return name, (False, len(got), f"{bad} differing rows")
        return name, (True, len(got), "ok")

    with ThreadPoolExecutor(len(oracles)) as ex:
        return dict(ex.map(one, sorted(oracles.items())))


def _read_tsv(d):
    rows = []
    for p in sorted(glob.glob(f"{d}/output-part-*")):
        with open(p) as f:
            rows += [line.rstrip("\n").split("\t") for line in f if line.strip()]
    return rows


MR_SQL = {
    "wordcount": """
        SELECT word, count(*) AS n FROM (
          SELECT unnest(string_split_regex(
            lower(regexp_replace(line, '[^a-zA-Z0-9\\s]+', ' ', 'g')), '\\s+')) AS word
          FROM text) t WHERE word <> '' GROUP BY word""",
    "amplab1": "SELECT url, CAST(rank AS VARCHAR) FROM rankings WHERE rank > 50",
    "amplab2": """SELECT substr(ip, 1, 8), sum(rev) FROM visits GROUP BY 1""",
    "amplab3": """
        SELECT v.ip, avg(CAST(r.rank AS DOUBLE)), avg(v.rev)
        FROM visits v JOIN rankings r ON v.url = r.url
        WHERE v.day < DATE '2000-01-01' GROUP BY v.ip""",
}


def _mr_views(con, data_dir):
    con.execute(f"""CREATE VIEW text AS SELECT column0 AS line FROM read_csv(
        '{data_dir}/text/*', header=false, delim='{chr(1)}', quote='', escape='',
        columns={{'column0': 'VARCHAR'}})""")
    con.execute(f"""CREATE VIEW rankings AS SELECT * FROM read_csv(
        '{data_dir}/rankings/*', header=false,
        columns={{'url': 'VARCHAR', 'rank': 'INTEGER', 'dur': 'INTEGER'}})""")
    con.execute(f"""CREATE VIEW visits AS SELECT * FROM read_csv(
        '{data_dir}/uservisits/*', header=false, dateformat='%Y-%m-%d',
        columns={{'ip': 'VARCHAR', 'url': 'VARCHAR', 'day': 'DATE',
                  'rev': 'DOUBLE', 'agent': 'VARCHAR', 'country': 'VARCHAR',
                  'lang': 'VARCHAR', 'word': 'VARCHAR', 'dur': 'INTEGER'}})""")


def _same(got, exp, numeric):
    """Row multisets equal; columns listed in `numeric` compare within TOL."""
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    got = sorted(tuple(r) for r in got)
    exp = sorted(tuple("" if v is None else v for v in r) for r in exp)
    for g, e in zip(got, exp):
        if len(g) != len(e):
            return f"fields {g} vs {e}"
        for i, (a, b) in enumerate(zip(g, e)):
            if i in numeric:
                if abs(float(a) - float(b)) > TOL * max(1.0, abs(float(b))):
                    return f"value {g} vs {e}"
            elif str(a) != str(b):
                return f"value {g} vs {e}"
    return None


def check_mr(data_dir, out_dir):
    con = duckdb.connect()
    _mr_views(con, data_dir)
    numeric = {"wordcount": {1}, "amplab1": set(), "amplab2": {1}, "amplab3": {1, 2}}
    out = {}
    for job, sql in MR_SQL.items():
        got = _read_tsv(f"{out_dir}/{job}")
        if not got:
            out[job] = (False, 0, "no output files")
            continue
        exp = [list(r) for r in con.execute(sql).fetchall()]
        err = _same(got, exp, numeric[job])
        out[job] = (err is None, len(got), err or "ok")
    return out
