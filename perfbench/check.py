"""Output check against DuckDB on the seed's generated inputs.

Query workloads: each checked query's Spark result is compared with its
``oracleSql`` the way the repository's oracle compare does it (columns by
name, rows sorted, exact values and dtypes). ``load_commit``: the
``readVersion`` aggregate and the final snapshot against a DuckDB
last-writer-wins over the base and the upsert batch, the
index's pairs against the from-scratch pair join, and the folded component
labels against components of those pairs; and after ``vacuum`` every
versioned table must hold only the last ``VACUUM_KEEP`` manifests and
only the partition directories they reference. Oracle results are cached
per digest of the input files and SQL text.
"""
import hashlib
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
VACUUM_KEEP = 1  # the keepLast of Workloads.scala's vacuum call


def _scan(path):
    return f"'{path}/*.parquet'" if os.path.isdir(path) else f"'{path}'"


def _connect(data):
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM {_scan(os.path.join(data, t + '.parquet'))}")
    return con


def _digest(root):
    """sha256 over the relative paths and bytes of every file under ``root``."""
    h = hashlib.sha256()
    for d, dirs, files in os.walk(root):
        dirs.sort()
        for f in sorted(files):
            path = os.path.join(d, f)
            h.update(os.path.relpath(path, root).encode() + b"\0")
            with open(path, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _oracle(con, cache, inputs, sql):
    key = hashlib.sha256(f"{inputs}\n{sql}".encode()).hexdigest()
    path = os.path.join(cache, key + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    df = con.sql(sql).df()
    os.makedirs(cache, exist_ok=True)
    df.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return df


def _compare(a, b, exact=True):
    """None if equal, else a one-line reason."""
    a = a.reindex(sorted(a.columns), axis=1)
    b = b.reindex(sorted(b.columns), axis=1)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    a = a.sort_values(by=list(a.columns)).reset_index(drop=True)
    b = b.sort_values(by=list(b.columns)).reset_index(drop=True)
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=exact, check_exact=exact)
    except AssertionError as e:
        return "values differ: " + " ".join(str(e).split())[:200]
    return None


def check(record, work, data, load, cache):
    """Returns {output name: reason} for every output that failed."""
    con = _connect(data)
    results = os.path.join(work, "results")
    spark = {name: con.sql(f"SELECT * FROM '{results}/{name}/*.parquet'").df()
             for name in record["checked"] if os.path.isdir(os.path.join(results, name))}
    bad = {name: "no result written" for name in record["checked"] if name not in spark}
    if record["workload"] != "load_commit":
        inputs = _digest(data)
        for name, got in spark.items():
            try:
                want = _oracle(con, cache, inputs, record["oracle_sql"][name])
            except Exception as e:  # an oracle that cannot run is a failed check
                bad[name] = f"oracle error: {e}"[:200]
                continue
            why = _compare(got, want)
            if why:
                bad[name] = why
        return bad

    inputs = _digest(load)
    live = (f"SELECT * EXCLUDE (rn) FROM (SELECT *, row_number() OVER "
            f"(PARTITION BY lkey ORDER BY ver DESC) AS rn FROM ("
            f"SELECT * FROM {_scan(os.path.join(load, 'line_base.parquet'))} UNION ALL "
            f"SELECT * FROM '{os.path.join(load, 'line_batch.parquet')}')) "
            f"WHERE rn = 1 AND NOT deleted")
    checks = {"line_read": f"SELECT bucket, COUNT(*) AS n, SUM(l_quantity) AS qty, "
                           f"MAX(l_extendedprice) AS max_price FROM ({live}) GROUP BY bucket",
              "line_snapshot": live}
    for name, sql in checks.items():
        if name in spark:
            why = _compare(spark[name], _oracle(con, cache, inputs, sql), exact=False)
            if why:
                bad[name] = why

    why = _vacuumed(os.path.join(work, "sinks"))
    if why:
        bad["line_vacuum"] = why

    if "doc_pairs" in spark:
        # the batches' pairs: every from-scratch pair over the indexed and
        # batch documents with an endpoint outside the indexed ones
        docs = duckdb.connect()
        docs.sql("SET threads TO 2")
        docs.sql(f"CREATE VIEW documents AS SELECT * FROM '{load}/doc_*.parquet'")
        base = docs.sql(f"SELECT doc_id FROM '{load}/doc_base.parquet'").df()["doc_id"]
        want = _oracle(docs, cache, inputs, record["oracle_sql"]["q_dedup_ngram"])
        want = want[~(want["id_a"].isin(base) & want["id_b"].isin(base))]
        got = spark["doc_pairs"]
        keys = ["id_a", "id_b", "n_common"]
        why = _compare(got[keys].astype("int64"), want[keys].astype("int64"))
        if why is None:
            merged = got.merge(want, on=["id_a", "id_b"], suffixes=("", "_o"))
            if (merged["jaccard"] - merged["jaccard_o"]).abs().max() > 1e-6:
                why = "jaccard differs"
        if why:
            bad["doc_pairs"] = why
        if "doc_labels" in spark:
            why = _compare(spark["doc_labels"].astype("int64"), _components(want))
            if why:
                bad["doc_labels"] = why
    return bad


def _vacuumed(sinks):
    """None if every pass's versioned table kept exactly the last
    ``VACUUM_KEEP`` manifests and no partition directory they do not
    reference, else a one-line reason."""
    for p in sorted(os.listdir(sinks)):
        table = os.path.join(sinks, p, "line")
        mdir = os.path.join(table, "manifest")
        versions = sorted(int(f[1:-len(".manifest")]) for f in os.listdir(mdir)
                          if f.startswith("v") and f.endswith(".manifest"))
        if not versions or versions != list(range(versions[-1] - VACUUM_KEEP + 1,
                                                  versions[-1] + 1)):
            return f"{p}: manifests {versions} after vacuum"
        referenced = set()
        for v in versions:
            with open(os.path.join(mdir, f"v{v}.manifest")) as f:
                for line in f:
                    path = line.rstrip("\n").split("\t", 1)[1]
                    referenced.add(os.path.realpath(path.replace("file:", "")))
        data = os.path.join(table, "data")
        for vd in os.listdir(data):
            for part in os.listdir(os.path.join(data, vd)):
                d = os.path.realpath(os.path.join(data, vd, part))
                if os.path.isdir(d) and d not in referenced:
                    return f"{p}: unreferenced {vd}/{part} left by vacuum"
    return None


def _components(pairs):
    """(node, lbl) with lbl the smallest node id of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs["id_a"].tolist(), pairs["id_b"].tolist()):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = sorted(parent)
    return pd.DataFrame({"node": nodes, "lbl": [find(n) for n in nodes]}, dtype="int64")
