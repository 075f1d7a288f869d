"""Seeded input generators for the benchmark.

Every generator is a pure function of its arguments: the same seed gives
byte-identical files (DuckDB runs single-threaded and every table is
written in key order; text is built from `random.Random(seed)`).  Each
generator returns its own tallies, which the benchmark later compares
with what the program computed.

Inputs for one (workload, seed) are cached under the build directory and
reused while their `manifest.json` exists.
"""

import json
import os
import random
import shutil
import time

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

# Rows per unit of scale factor, TPC-H proportions.
PER_SF = {"customer": 150_000, "supplier": 10_000, "part": 200_000, "orders": 1_500_000}

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

# Words of the synthetic document corpus (same flavour as the fixture corpus).
VOCAB = (
    "a the data spark stream batch table row column key value query join "
    "group agg sort merge hash scan filter window order part line customer "
    "vector big small fast slow index shard commit plan stage task cache "
    "spill shuffle"
).split()


def _row_hash_macro(con, seed):
    """`r(i, salt)`: a seeded 64-bit hash per row; every column draws from
    it. The seed enters as one precomputed BIGINT offset, so any integer
    seed (negative, or past 32 bits) gives valid SQL without overflow."""
    off = (int(seed) % 1_000_003) * 104729
    con.execute(f"CREATE OR REPLACE MACRO r(i, salt) AS hash(i * 1000003 + salt * 7919 + CAST({off} AS BIGINT))")


def _sql_tables(con, out_dir, sf, seed):
    n_cust = max(1, int(PER_SF["customer"] * sf))
    n_supp = max(1, int(PER_SF["supplier"] * sf))
    n_part = max(1, int(PER_SF["part"] * sf))
    n_ord = max(1, int(PER_SF["orders"] * sf))
    _row_hash_macro(con, seed)
    s = int(seed) % 5  # which region each nation belongs to
    regions = ", ".join(f"({i}, '{n}')" for i, n in enumerate(REGIONS))
    q = {
        "region": f"SELECT CAST(k AS INTEGER) AS r_regionkey, n AS r_name FROM (VALUES {regions}) t(k, n) ORDER BY 1",
        "nation": f"""SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name,
                        CAST((i + {s}) % 5 AS INTEGER) AS n_regionkey
                      FROM range(25) t(i) ORDER BY 1""",
        "customer": f"""SELECT i AS c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
                          CAST(r(i, 1) % 25 AS INTEGER) AS c_nationkey,
                          round(CAST(r(i, 2) % 1100000 AS DOUBLE) / 100 - 1000, 2) AS c_acctbal,
                          ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'][CAST(r(i, 3) % 5 AS INTEGER) + 1] AS c_mktsegment
                        FROM range(1, {n_cust + 1}) t(i) ORDER BY 1""",
        "supplier": f"""SELECT i AS s_suppkey, 'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name,
                          CAST(r(i, 11) % 25 AS INTEGER) AS s_nationkey,
                          round(CAST(r(i, 12) % 1100000 AS DOUBLE) / 100 - 1000, 2) AS s_acctbal
                        FROM range(1, {n_supp + 1}) t(i) ORDER BY 1""",
        "part": f"""SELECT i AS p_partkey, 'part ' || (r(i, 21) % 997) || ' ' || (r(i, 22) % 991) AS p_name,
                      'Brand#' || (1 + r(i, 23) % 5) || (1 + r(i, 24) % 5) AS p_brand,
                      ['STANDARD', 'SMALL', 'MEDIUM', 'LARGE', 'ECONOMY', 'PROMO'][CAST(r(i, 25) % 6 AS INTEGER) + 1]
                        || ' POLISHED TIN' AS p_type,
                      CAST(1 + r(i, 26) % 50 AS INTEGER) AS p_size,
                      round(900 + CAST(r(i, 27) % 110000 AS DOUBLE) / 100, 2) AS p_retailprice
                    FROM range(1, {n_part + 1}) t(i) ORDER BY 1""",
        "orders": f"""SELECT i AS o_orderkey, CAST(1 + r(i, 31) % {n_cust} AS BIGINT) AS o_custkey,
                        ['F', 'O', 'P'][CAST(r(i, 32) % 3 AS INTEGER) + 1] AS o_orderstatus,
                        round(CAST(r(i, 33) % 50000000 AS DOUBLE) / 100, 2) AS o_totalprice,
                        TIMESTAMP '1992-01-01' + to_days(CAST(r(i, 34) % 2400 AS INTEGER)) AS o_orderdate,
                        ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'][CAST(r(i, 35) % 5 AS INTEGER) + 1] AS o_orderpriority
                      FROM range(1, {n_ord + 1}) t(i) ORDER BY 1""",
        "lineitem": f"""SELECT o AS l_orderkey, CAST(1 + r(o * 8 + ln, 41) % {n_part} AS BIGINT) AS l_partkey,
                          CAST(1 + r(o * 8 + ln, 42) % {n_supp} AS BIGINT) AS l_suppkey,
                          CAST(ln AS INTEGER) AS l_linenumber,
                          CAST(1 + r(o * 8 + ln, 43) % 50 AS DOUBLE) AS l_quantity,
                          round(CAST(r(o * 8 + ln, 44) % 10000000 AS DOUBLE) / 100, 2) AS l_extendedprice,
                          CAST(r(o * 8 + ln, 45) % 11 AS DOUBLE) / 100 AS l_discount,
                          CAST(r(o * 8 + ln, 46) % 9 AS DOUBLE) / 100 AS l_tax,
                          ['A', 'N', 'R'][CAST(r(o * 8 + ln, 47) % 3 AS INTEGER) + 1] AS l_returnflag,
                          ['F', 'O'][CAST(r(o * 8 + ln, 48) % 2 AS INTEGER) + 1] AS l_linestatus,
                          TIMESTAMP '1992-01-02' + to_days(CAST(r(o * 8 + ln, 49) % 2500 AS INTEGER)) AS l_shipdate
                        FROM range(1, {n_ord + 1}) a(o), range(1, 8) b(ln)
                        WHERE ln <= 1 + r(o, 40) % 7
                        ORDER BY 1, 4""",
    }
    rows = {}
    for t in TABLES:
        path = os.path.join(out_dir, f"{t}.parquet")
        con.execute(f"COPY ({q[t]}) TO '{path}' (FORMAT PARQUET)")
        rows[t] = con.execute(f"SELECT count(*) FROM '{path}'").fetchone()[0]
    return rows


def _connect():
    con = duckdb.connect()
    # one thread: row order and row groups, hence file bytes, are fixed
    con.execute("SET threads = 1")
    return con


def tables(out_dir, sf, seed):
    """TPC-H-shaped tables at scale factor `sf`. Returns {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    con = _connect()
    try:
        return _sql_tables(con, out_dir, sf, seed)
    finally:
        con.close()


def derive_10x(base_dir, out_dir, factor, seed):
    """A `factor`-times corpus derived from `base_dir`: orders and lineitem
    are replicated with key offsets, each replica order gets a seeded
    existing customer, and every foreign key stays intact. The other
    tables are copied. Returns {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    con = _connect()
    try:
        _row_hash_macro(con, seed)
        b = lambda t: os.path.join(base_dir, f"{t}.parquet")
        off = con.execute(f"SELECT max(o_orderkey) + 1 FROM '{b('orders')}'").fetchone()[0]
        n_cust = con.execute(f"SELECT count(*) FROM '{b('customer')}'").fetchone()[0]
        cust_max = con.execute(f"SELECT max(c_custkey) FROM '{b('customer')}'").fetchone()[0]
        assert n_cust == cust_max, "customer keys must be dense 1..n"
        q = {
            "orders": f"""SELECT o_orderkey + k * {off} AS o_orderkey,
                            CASE WHEN k = 0 THEN o_custkey
                                 ELSE CAST(1 + r(o_orderkey + k * {off}, 51) % {n_cust} AS BIGINT) END AS o_custkey,
                            o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
                          FROM '{b('orders')}', range({factor}) t(k) ORDER BY 1""",
            "lineitem": f"""SELECT l_orderkey + k * {off} AS l_orderkey, l_partkey, l_suppkey, l_linenumber,
                              l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate
                            FROM '{b('lineitem')}', range({factor}) t(k) ORDER BY 1, 4""",
        }
        rows = {}
        for t in TABLES:
            path = os.path.join(out_dir, f"{t}.parquet")
            if t in q:
                con.execute(f"COPY ({q[t]}) TO '{path}' (FORMAT PARQUET)")
            else:
                shutil.copyfile(b(t), path)
            rows[t] = con.execute(f"SELECT count(*) FROM '{path}'").fetchone()[0]
        return rows
    finally:
        con.close()


# Statement templates of the query log: (weight per 100 statements,
# tables the program must count, statement is DML, body builder).  The
# weights are exact, so every seed yields the same per-table tallies and
# hence the same decided schema; only the order and literals vary.
def _templates():
    return [
        (30, ("lineitem",), False,
         lambda g: f"SELECT * FROM lineitem WHERE l_quantity > {g.randint(1, 50)}"),
        (15, ("lineitem", "orders"), False,
         lambda g: f"SELECT l_orderkey, o_totalprice\n    FROM lineitem JOIN orders ON l_orderkey = o_orderkey\n"
                   f"    WHERE o_totalprice > {g.randint(1, 500000)}"),
        (15, ("orders", "customer"), False,
         lambda g: f"SELECT * FROM orders JOIN customer ON o_custkey = c_custkey WHERE c_custkey = {g.randint(1, 10**6)}"),
        (10, ("customer", "nation", "region"), False,
         lambda g: "SELECT c_name, n_name, r_name FROM customer\n    JOIN nation ON c_nationkey = n_nationkey\n"
                   f"    JOIN region ON n_regionkey = r_regionkey WHERE c_acctbal > {g.randint(-999, 9999)}"),
        (8, ("supplier",), False,
         lambda g: f"SELECT * FROM `supplier` WHERE s_suppkey = {g.randint(1, 10**5)}"),
        (8, ("part",), False,
         lambda g: f"SELECT * FROM part WHERE p_size = {g.randint(1, 50)}"),
        (2, ("customer",), True,
         lambda g: f"UPDATE customer SET c_acctbal = {g.randint(0, 999)} WHERE c_custkey = {g.randint(1, 10**6)}"),
        (2, ("nation",), True,
         lambda g: f"UPDATE nation SET n_name = 'N{g.randint(0, 99)}' WHERE n_nationkey = {g.randint(0, 24)}"),
        (2, ("part",), True,
         lambda g: f"INSERT INTO part VALUES ({g.randint(10**6, 10**7)}, 'widget', 'B#1', 'TYPE', 1, 9.99)"),
        (2, ("part",), True,
         lambda g: f"DELETE FROM part WHERE p_partkey = {g.randint(10**6, 10**7)}"),
        # out-of-catalog table: only the lineitem mention survives the join
        (3, ("lineitem",), False,
         lambda g: f"CREATE TABLE tmp_report_{g.randint(0, 999)} AS SELECT l_orderkey FROM lineitem"),
        # not DML/DDL: dropped by the classifier
        (3, (), False, lambda g: "SET autocommit = 1"),
    ]


def mysql_log(out_dir, n_statements, n_files, seed):
    """A MySQL general query log of `n_statements` Query records rotated
    across `n_files` files, with multi-line records, interleaved
    non-Query records (Connect/Init DB/Quit), SET statements and an
    out-of-catalog table. `n_statements` must be a multiple of 100.
    Returns the tallies: statements, counted mentions per table, DML
    mentions per table, bytes."""
    assert n_statements % 100 == 0
    os.makedirs(out_dir, exist_ok=True)
    g = random.Random(seed)
    tpl = _templates()
    order = [i for i, (w, _, _, _) in enumerate(tpl) for _ in range(w)] * (n_statements // 100)
    g.shuffle(order)
    mentions = {t: 0 for t in TABLES}
    dml = {t: 0 for t in TABLES}
    for i in order:
        _, tabs, is_dml, _ = tpl[i]
        for t in tabs:
            mentions[t] += 1
            if is_dml:
                dml[t] += 1
    per_file = -(-len(order) // n_files)
    total_bytes = 0
    for f in range(n_files):
        chunk = order[f * per_file:(f + 1) * per_file]
        thread = 10 + f
        lines = [f"240611 10:00:00 {thread:>6} Connect   bench@localhost on tpch",
                 f"{thread:>22} Init DB   tpch"]
        sec = 0
        for j, i in enumerate(chunk):
            body = tpl[i][3](g)
            if j % 7 == 0:  # timestamped header; the rest continue the second
                sec += 1
                stamp = f"240611 {10 + sec // 3600 % 14}:{sec // 60 % 60:02d}:{sec % 60:02d}"
                lines.append(f"{stamp} {thread:>6} Query     {body}")
            else:
                lines.append(f"{thread:>22} Query     {body}")
            if j % 50 == 49:
                lines.append(f"{thread:>22} Statistics")
        lines.append(f"{thread:>22} Quit")
        data = ("\n".join(lines) + "\n").encode()
        with open(os.path.join(out_dir, f"general.log.{f}"), "wb") as fh:
            fh.write(data)
        total_bytes += len(data)
    return {"statements": len(order), "mentions": mentions, "dml_mentions": dml, "bytes": total_bytes}


def _doc_text(g, n_words):
    return " ".join(g.choice(VOCAB) for _ in range(n_words))


def _shingles(text, n=3):
    t = text.strip().split(" ")
    return {tuple(t[i:i + n]) for i in range(len(t) - n + 1)}


def _jaccard(a, b):
    return len(a & b) / len(a | b)


def _write_parquet(path, rows, columns, order):
    """Rows (dicts) to a parquet file with `n_chars` added, through a
    JSON-lines staging file next to it."""
    staging = path + ".jsonl"
    with open(staging, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")
    cols = ", ".join(f"'{c.split()[0]}': '{c.split()[1]}'" for c in columns.split(", "))
    con = _connect()
    try:
        con.execute(f"COPY (SELECT *, CAST(length(text) AS BIGINT) AS n_chars "
                    f"FROM read_json('{staging}', format = 'newline_delimited', columns = {{{cols}}}) "
                    f"ORDER BY {order}) TO '{path}' (FORMAT PARQUET)")
    finally:
        con.close()
    os.remove(staging)


def neardup_stream(out_dir, seed, n_docs=5000, batch_size=100, planted_exact=3,
                   planted_near=3, takedown_every=3, takedown_size=3):
    """A document corpus split by seed: half is the index corpus, the other
    half streams in fixed-size batches. Every batch carries exact and near
    copies of indexed documents; every `takedown_every`-th batch is
    followed by a takedown of seeded indexed ids. Writes `index.parquet`
    (doc_id, text, lang, source, n_chars) and `stream.parquet` (the same
    plus batch, expect, dup_of) and returns the plan."""
    os.makedirs(out_dir, exist_ok=True)
    g = random.Random(seed)
    langs = ("en", "en", "en", "de", "fr", "es", "zh")
    docs = []
    for i in range(n_docs):
        text = _doc_text(g, g.randint(8, 80))
        docs.append((i, text, g.choice(langs), f"src{i % 20}"))
    ids = list(range(n_docs))
    g.shuffle(ids)
    index_ids = sorted(ids[:n_docs // 2])
    stream_ids = ids[n_docs // 2:]
    # planted sources and takedown targets: long, distinct indexed docs
    texts = {}
    for i in index_ids:
        texts.setdefault(docs[i][1], []).append(i)
    long_unique = [i for i in index_ids if len(docs[i][1].split(" ")) >= 40 and len(texts[docs[i][1]]) == 1]
    g.shuffle(long_unique)
    plain = batch_size - planted_exact - planted_near
    n_batches = len(stream_ids) // plain
    n_takedowns = n_batches // takedown_every
    need = n_batches * (planted_exact + planted_near) + n_takedowns * takedown_size
    assert len(long_unique) >= need, "corpus too small for the planted duplicates"
    pool = iter(long_unique)
    takedowns = [[next(pool) for _ in range(takedown_size)] for _ in range(n_takedowns)]
    next_id = n_docs
    stream = []
    for b in range(n_batches):
        rows = [(i, docs[i][1], docs[i][2], docs[i][3], "keep", None) for i in stream_ids[b * plain:(b + 1) * plain]]
        for _ in range(planted_exact):
            src = next(pool)
            rows.append((next_id, docs[src][1], docs[src][2], "planted", "drop_exact", src))
            next_id += 1
        for _ in range(planted_near):
            src = next(pool)
            words = docs[src][1].split(" ")
            base = _shingles(docs[src][1])
            while True:  # one-word edit that keeps Jaccard well above 0.8
                pos = g.randint(3, len(words) - 4)
                w2 = list(words)
                w2[pos] = g.choice([v for v in VOCAB if v != words[pos]])
                near = " ".join(w2)
                if _jaccard(base, _shingles(near)) >= 0.85:
                    break
            rows.append((next_id, near, docs[src][2], "planted", "drop_near", src))
            next_id += 1
        g.shuffle(rows)
        stream.extend((b,) + r for r in rows)
    # exact copies of the taken-down docs, screened after the stream
    probes = [(next_id + k, docs[d][1], docs[d][2], "probe", "keep", d)
              for k, d in enumerate(x for t in takedowns for x in t)]
    idx_rows = [dict(doc_id=i, text=docs[i][1], lang=docs[i][2], source=docs[i][3]) for i in index_ids]
    st_rows = [dict(zip(("batch", "doc_id", "text", "lang", "source", "expect", "dup_of"), r))
               for r in stream + [(-1,) + p for p in probes]]
    _write_parquet(os.path.join(out_dir, "index.parquet"), idx_rows,
                   "doc_id BIGINT, text VARCHAR, lang VARCHAR, source VARCHAR", "doc_id")
    _write_parquet(os.path.join(out_dir, "stream.parquet"), st_rows,
                   "batch INTEGER, doc_id BIGINT, text VARCHAR, lang VARCHAR, source VARCHAR, "
                   "expect VARCHAR, dup_of BIGINT", "batch, doc_id")
    return {"index_docs": len(index_ids), "batches": n_batches, "batch_size": batch_size,
            "planted_exact": planted_exact, "planted_near": planted_near,
            "takedown_every": takedown_every, "takedowns": takedowns}


# Workload input plans. The migration workloads share the base scale
# factor. `budget_bytes` is the document-size budget handed to the
# program: the 10x corpus's `region` documents (~1.5 MB) exceed it and its
# `nation` documents do not, so the demotion path runs there, while every
# 1x document fits. The log mix is fixed, so every seed decides the same
# kinds.
KINDS = {"region": "root", "part": "root", "lineitem": "referencing", "nation": "one_way_embedded",
         "customer": "one_way_embedded", "supplier": "one_way_embedded", "orders": "one_way_embedded"}
WORKLOADS = {
    "migrate_biglog": {"sf": 0.004, "factor": 1, "statements": 500_000, "log_files": 8,
                       "budget_bytes": 1 << 20, "kinds": KINDS,
                       "roots": ["region", "part", "lineitem"], "demotions": []},
    "migrate_10x": {"sf": 0.004, "factor": 10, "statements": 10_000, "log_files": 1,
                    "budget_bytes": 1 << 20, "kinds": KINDS,
                    "roots": ["region", "part", "lineitem", "nation"], "demotions": [["region", ["nation"]]]},
    # `max_files_per_table` is the append's inline-compaction threshold:
    # low enough that the inline compaction runs during the stream
    "neardup_ingest": {"docs": 5000, "batch_size": 100, "takedown_every": 3, "max_files_per_table": 7},
    # the tiny migration the class-data archive is recorded from
    "cds_training": {"sf": 0.001, "factor": 1, "statements": 2_000, "log_files": 2,
                     "budget_bytes": 1 << 20, "kinds": KINDS,
                     "roots": ["region", "part", "lineitem"], "demotions": []},
}


def prepare(workload, seed, cache_root):
    """Generate (or reuse) the inputs of one workload run; returns the
    manifest, which carries the tallies the checks compare against."""
    out = os.path.join(cache_root, workload, f"seed-{seed}")
    manifest_path = os.path.join(out, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            m = json.load(fh)
        m["gen_cached"] = True
        return m
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    t0 = time.perf_counter()
    plan = WORKLOADS[workload]
    m = {"workload": workload, "seed": seed, "dir": out, "plan": plan}
    if "factor" in plan:
        data = os.path.join(out, "tables")
        if plan["factor"] == 1:
            rows = tables(data, plan["sf"], seed)
        else:
            base = os.path.join(out, "base")
            tables(base, plan["sf"], seed)
            rows = derive_10x(base, data, plan["factor"], seed)
            shutil.rmtree(base)
        log = mysql_log(os.path.join(out, "log"), plan["statements"], plan["log_files"], seed)
        m.update(tables_dir=data, log_dir=os.path.join(out, "log"), rows=rows, log=log,
                 source_bytes=sum(os.path.getsize(os.path.join(data, f"{t}.parquet")) for t in TABLES),
                 warmup_parquet=os.path.join(data, "nation.parquet"))
    else:
        m["stream"] = neardup_stream(out, seed, n_docs=plan["docs"], batch_size=plan["batch_size"],
                                     takedown_every=plan["takedown_every"])
        m["stream"]["max_files_per_table"] = plan["max_files_per_table"]
        m["warmup_parquet"] = os.path.join(out, "index.parquet")
    m["gen_s"] = time.perf_counter() - t0
    with open(manifest_path + ".tmp", "w") as fh:
        json.dump(m, fh, indent=1, sort_keys=True)
    os.replace(manifest_path + ".tmp", manifest_path)
    m["gen_cached"] = False
    return m
