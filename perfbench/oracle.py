"""DuckDB oracle check for the corpus_curation workload.

The benchmark JVM writes the stage outputs of two pipeline passes as
parquet (`slice/`: the warm-up pass over the corpus's first documents;
`full/`: the first timed pass), together with the corpus location and
the registry's oracle SQL for each stage (`SparkEntry.oracleSql`), into
a directory holding `oracle.json`. This module runs that SQL over the
same generated corpus with DuckDB and compares each stage by row count,
column names and an order-insensitive value hash (the canonicalisation
of tools/compare.py). Clusters are checked against the transitive
closure of the oracle's pairs, computed here by union-find, because the
registry's recursive-CTE form takes minutes even on the slice. The timed
pass's pairs and clusters are checked in the benchmark JVM instead
(`Curation.checkNearDups`): the oracle's MinHash SQL is too slow there.
"""
import hashlib
import json
import os


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if v != v else repr(v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def table_hash(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def fetch(con, sql, drop=()):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    keep = [i for i, c in enumerate(cols) if c not in drop]
    return [cols[i] for i in keep], [tuple(r[i] for i in keep) for r in rows]


def components(pairs):
    """(doc_id, cluster, survivor) of the transitive closure of `pairs`,
    cluster = the component's smallest doc_id: what the registry's
    recursive-CTE clusters oracle computes, by union-find.
    """
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [(n, find(n), n == find(n)) for n in list(parent)]


def compare(con, problems, where, stage, ocols, orows, drop=()):
    keep = [i for i, c in enumerate(ocols) if c not in drop]
    ocols, orows = [ocols[i] for i in keep], [tuple(r[i] for i in keep) for r in orows]
    scols, srows = fetch(con, f"SELECT * FROM read_parquet('{where}/{stage}/*.parquet')")
    name = f"{os.path.basename(where)}/{stage}"
    if sorted(ocols) != sorted(scols):
        problems.append(f"{name}: columns {sorted(scols)} != oracle {sorted(ocols)}")
    elif len(orows) != len(srows):
        problems.append(f"{name}: {len(srows)} rows != oracle {len(orows)}")
    elif table_hash(orows, ocols) != table_hash(srows, scols):
        problems.append(f"{name}: value hash differs from the oracle")


def check_pass(con, spec, where, limit, full):
    """Check one pass's stage outputs. The slice pass is checked stage by
    stage; the full pass (where the MinHash oracle is too slow) is checked
    on exact dedup, and on tokenize and pack over the documents its own
    clusters keep (the benchmark JVM checks those clusters and pairs).
    """
    problems = []
    con.execute("DROP VIEW IF EXISTS documents")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{spec['documents']}/*.parquet') "
                f"WHERE doc_id < {limit}")
    exact = fetch(con, spec["exact"])
    compare(con, problems, where, "exact", *exact)
    if full:
        drop = fetch(con, f"SELECT doc_id FROM read_parquet('{where}/clusters/*.parquet') WHERE NOT survivor")[1]
    else:
        pairs = fetch(con, spec["pairs"])
        compare(con, problems, where, "pairs", *pairs)
        ia, ib = pairs[0].index("doc_a"), pairs[0].index("doc_b")
        clusters = components((r[ia], r[ib]) for r in pairs[1])
        compare(con, problems, where, "clusters", ["doc_id", "cluster", "survivor"], clusters)
        drop = [(c[0],) for c in clusters if not c[2]]
    keep = {r[exact[0].index("doc_id")] for r in exact[1]} - {d[0] for d in drop}
    con.execute("CREATE OR REPLACE TABLE kept_ids (doc_id BIGINT)")
    con.executemany("INSERT INTO kept_ids VALUES (?)", [(k,) for k in sorted(keep)])
    con.execute("DROP VIEW documents")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{spec['documents']}/*.parquet') "
                "WHERE doc_id IN (SELECT doc_id FROM kept_ids)")
    compare(con, problems, where, "tokens", *fetch(con, spec["tokens"]))
    compare(con, problems, where, "pack", *fetch(con, spec["pack"]))
    return problems


def check(record, oracle_dir):
    """Return a list of problems (empty when every checked stage matches)."""
    spec_path = os.path.join(oracle_dir, "oracle.json")
    if not os.path.isfile(spec_path):
        return ["no pipeline output to check (no pass completed)"]
    try:
        import duckdb
    except ImportError:
        return ["duckdb is not importable: the oracle check cannot run"]
    with open(spec_path) as f:
        spec = json.load(f)
    con = duckdb.connect()
    problems = check_pass(con, spec, os.path.join(oracle_dir, "slice"), int(spec["slice_docs"]), full=False)
    if os.path.isdir(os.path.join(oracle_dir, "full")):
        problems += check_pass(con, spec, os.path.join(oracle_dir, "full"), 1 << 62, full=True)
    else:
        problems.append("no timed pass completed")
    record.setdefault("facts", {})["oracle_checked"] = "slice: all stages; full: exact, tokens, pack (pairs, clusters in the JVM)"
    return problems
