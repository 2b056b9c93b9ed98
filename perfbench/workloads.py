"""Operations, cycles and DuckDB references for the benchmark workloads.

An operation is one call into a layer's public function followed by one
action on its result: a row count plus an order-independent hash. A
variant names an operation and its arguments; a cycle runs every
operation type of a workload in a fixed order. The reference for each
variant is computed here by DuckDB over the same generated files, with
the same row hash the engine side computes:

    hash = sum over rows of int(md5(col_1 | ... | col_n)[:8], 16)

with columns in name order, values cast to text and NULL written as \\N.
"""
import random

import duckdb

# Operation arguments the engine side receives with each variant.
SP_MAX_DIST = 15
LPA_ROUNDS = 3
KCORE_K = 2
SCC_ITERS = 10
SKETCH = {"k": 16, "bands": 4}
# slice's indexed-vs-binned gate compares average rows per src key with
# this cap. The engine default (4M rows per key) only trips on stores far
# larger than a closed loop can slice repeatedly, so the benchmark scales
# the cap with its stores: the sparse store (~5 rows per key) lands on the
# indexed side, the dense one (~4500 rows per key) on the binned side.
SLICE_INDEXED_CAP = 1000
# align_rw: a cycle is ALIGN_ROUNDS rounds; per round and store, one read
# of each type, then one write (persist, load, slice).
READS = ("slice", "hop2", "ijoin", "cov")
ALIGN_ROUNDS = 2
PERSIST_BUCKETS = 8

# latency_tail_s is the highest of these percentiles with >= 10 samples
# beyond it.
LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

CYCLES = 64  # cycles in a plan; the engine side wraps around past the end


def _graph_motif_variants(args):
    v = {"cc": {"op": "cc"}, "lpa": {"op": "lpa", "rounds": LPA_ROUNDS},
         "kcore": {"op": "kcore", "k": KCORE_K}, "scc": {"op": "scc", "iters": SCC_ITERS}}
    for i, lm in enumerate(args["landmarks"]):
        v[f"sp:{i}"] = {"op": "sp", "landmarks": lm, "max_dist": SP_MAX_DIST}
    v.update(shared={"op": "shared", "chunk_size": args["chunk_size"]},
             sketch=dict(op="sketch", **SKETCH), find={"op": "find"})
    return v


def _align_variants(args):
    v = {}
    for s in args["stores"]:
        v[f"cov:{s}"] = {"op": "cov", "store": s}
        for i in range(args["query_sets"]):
            q = f"queries_{s}_{i}.parquet"
            v[f"slice:{s}:{i}"] = {"op": "slice", "store": s, "queries": q,
                                   "indexed_cap": SLICE_INDEXED_CAP}
            v[f"hop2:{s}:{i}"] = {"op": "hop2", "store": s, "queries": q}
            v[f"write:{s}:{i}"] = {"op": "write", "store": s, "queries": q,
                                   "indexed_cap": SLICE_INDEXED_CAP,
                                   "buckets": PERSIST_BUCKETS,
                                   "ref": f"slice:{s}:{i}"}
        for i in range(args["point_sets"]):
            v[f"ijoin:{s}:{i}"] = {"op": "ijoin", "store": s,
                                   "points": f"points_{s}_{i}.parquet"}
    return v


VARIANTS = {"graph_motif": _graph_motif_variants, "align_rw": _align_variants}


def variants(workload, args):
    return VARIANTS[workload](args)


def cycles(workload, seed, var):
    """Seeded cycles of variant ids. Every cycle of a workload runs the
    same operation types in the same order; the seed picks the variants
    (landmarks, store, query set). A run of whole cycles so weighs the
    types identically whatever its length."""
    rng = random.Random(f"{workload}:{seed}")
    pick = lambda op: rng.choice(sorted(k for k in var if k.split(":")[0] == op))
    pick_in = lambda op, store: rng.choice(sorted(
        k for k in var if k.split(":")[:2] == [op, store]))
    out = []
    for _ in range(CYCLES):
        if workload == "graph_motif":
            c = ["cc", pick("sp"), "lpa", "kcore", "scc", "shared", "sketch", "find"]
        else:
            # per round and store: one read of each type, then a write
            c = []
            for _ in range(ALIGN_ROUNDS):
                for store in ("sparse", "dense"):
                    c += [pick_in(op, store) for op in READS] + [pick_in("write", store)]
        out.append(c)
    return out


def setup_pass(workload, var):
    """Variant ids of the untimed first pass: one per operation type and
    store, so every code path and every store's lazy statistics are warm
    before timing starts."""
    seen, out = set(), []
    for k in sorted(var):
        key = (var[k]["op"], var[k].get("store"))
        if key not in seen:
            seen.add(key)
            out.append(k)
    return out


# --- references -----------------------------------------------------------

def _lpa(rounds):
    parts = ["ud AS (SELECT DISTINCT a, b FROM (SELECT src AS a, dst AS b FROM e UNION ALL SELECT dst, src FROM e))",
             "l0 AS (SELECT DISTINCT a AS node, a AS label FROM ud)"]
    # one synchronous round per CTE: the most frequent neighbour label,
    # ties to the smallest label (the engine's min(struct(-count, label)))
    for i in range(1, rounds + 1):
        prev = "l0" if i == 1 else f"r{i - 1}"
        parts.append(f"""r{i} AS (SELECT node, label FROM (
  SELECT ud.a AS node, l.label, ROW_NUMBER() OVER (PARTITION BY ud.a
    ORDER BY COUNT(*) DESC, l.label) AS rn
  FROM ud JOIN {prev} l ON l.node = ud.b
  GROUP BY ud.a, l.label) WHERE rn = 1)""")
    return "WITH " + ",\n".join(parts) + f"\nSELECT node, label FROM r{rounds}"


def _graph_sql(v):
    # Helper relations are DISTINCT over UNION ALL: inside WITH RECURSIVE,
    # DuckDB 1.0 evaluates a plain `x UNION y` CTE as a recursive one and
    # keeps rows duplicated between its two branches.
    op = v["op"]
    if op == "cc":
        return """WITH RECURSIVE ud AS (SELECT DISTINCT a, b FROM (SELECT src AS a, dst AS b FROM e UNION ALL SELECT dst, src FROM e)),
walk(n, lbl) AS (SELECT DISTINCT a, a FROM ud
  UNION SELECT ud.b, walk.lbl FROM walk JOIN ud ON ud.a = walk.n)
SELECT n AS node, MIN(lbl) AS comp FROM walk GROUP BY n"""
    if op == "sp":
        lm = ", ".join(f"({x})" for x in v["landmarks"])
        # distances follow edge direction: node -> ... -> landmark
        return f"""WITH RECURSIVE walk(n, l, d) AS (
  SELECT l, l, 0 FROM (VALUES {lm}) lm(l)
  UNION SELECT e.src, walk.l, walk.d + 1 FROM walk JOIN e ON e.dst = walk.n
  WHERE walk.d < {v['max_dist']})
SELECT n AS node, l AS landmark, CAST(MIN(d) AS BIGINT) AS dist FROM walk GROUP BY n, l"""
    if op == "lpa":
        return _lpa(v["rounds"])
    if op == "kcore":
        # iteration i holds the nodes with >= k neighbours among the
        # survivors of iteration i-1; iteration 50 (the engine's maxRounds)
        # is the fixpoint, empty when the peel dies out
        return f"""WITH RECURSIVE ud AS (SELECT DISTINCT a, b FROM (SELECT src AS a, dst AS b FROM e UNION ALL SELECT dst, src FROM e)),
alive(iter, node) AS (
  SELECT 0, a FROM ud GROUP BY a
  UNION ALL
  SELECT al.iter + 1, al.node FROM alive al JOIN ud u ON u.a = al.node
    JOIN alive nb ON nb.node = u.b AND nb.iter = al.iter
  WHERE al.iter < 50 GROUP BY al.iter, al.node HAVING COUNT(*) >= {v['k']}),
core AS (SELECT node FROM alive WHERE iter = 50)
SELECT c.node, CAST(COUNT(*) AS BIGINT) AS deg
FROM core c JOIN ud u ON u.a = c.node JOIN core d ON d.node = u.b GROUP BY c.node"""
    if op == "scc":
        return """WITH RECURSIVE nodes AS (SELECT DISTINCT n FROM (SELECT src AS n FROM e UNION ALL SELECT dst FROM e)),
walk(a, b) AS (SELECT src, dst FROM e UNION SELECT w.a, e.dst FROM walk w JOIN e ON e.src = w.b),
mutual AS (SELECT r1.a AS u, r1.b AS v FROM walk r1 JOIN walk r2 ON r1.a = r2.b AND r1.b = r2.a)
SELECT n.n AS node, LEAST(n.n, COALESCE(MIN(m.v), n.n)) AS scc
FROM nodes n LEFT JOIN mutual m ON m.u = n.n GROUP BY n.n"""
    raise ValueError(op)


def _motif_sql(v):
    op = v["op"]
    if op == "shared":
        return """SELECT a.src AS s1, b.src AS s2, COUNT(*) AS n_shared
FROM e a JOIN e b ON a.dst = b.dst AND a.src < b.src GROUP BY a.src, b.src"""
    if op == "find":
        return "SELECT a.src AS s1, a.dst AS t, b.src AS s2 FROM e a JOIN e b ON a.dst = b.dst AND a.src < b.src"
    if op == "sketch":
        k, bands = v["k"], v["bands"]
        r = k // bands
        sig_cols = ", ".join(f"MIN(CASE WHEN seed={i} THEN m END) s{i}" for i in range(k))
        band_rows = "\nUNION ALL\n".join(
            "SELECT src, {b} AS band, md5({cat}) AS bucket FROM sig".format(
                b=b, cat="||".join(f"s{i}" for i in range(b * r, (b + 1) * r)))
            for b in range(bands))
        m_sum = " + ".join(f"CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END" for i in range(k))
        return f"""WITH d AS (SELECT DISTINCT src, CAST(dst AS VARCHAR) AS dst FROM e),
seeded AS (SELECT src, seed, md5(CAST(seed AS VARCHAR) || ':' || dst) AS h
  FROM d CROSS JOIN range({k}) r(seed)),
mh AS (SELECT src, seed, MIN(h) AS m FROM seeded GROUP BY src, seed),
sig AS (SELECT src, {sig_cols} FROM mh GROUP BY src),
bands AS ({band_rows}),
cand AS (SELECT DISTINCT a.src AS i, b.src AS j FROM bands a
  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.src < b.src),
sz AS (SELECT src, COUNT(*) AS sz FROM d GROUP BY src),
mm AS (SELECT cand.i, cand.j, ({m_sum}) AS m
  FROM cand JOIN sig a ON a.src = cand.i JOIN sig b ON b.src = cand.j),
x AS (SELECT mm.i, mm.j, CAST(floor(10000 * m / {k}) AS BIGINT) AS est_jac_bp,
  za.sz + zb.sz AS szs FROM mm JOIN sz za ON za.src = mm.i JOIN sz zb ON zb.src = mm.j)
SELECT i AS s1, j AS s2, est_jac_bp,
  CAST(floor(est_jac_bp * szs / (10000 + est_jac_bp)) AS BIGINT) AS n_shared_est FROM x"""
    raise ValueError(op)


_SLICE = """sl AS (SELECT q_id, a.src_id,
  GREATEST(src_start, q_start) AS src_start, LEAST(src_end, q_end) AS src_end, dest_id,
  CASE WHEN dest_ori >= 0 THEN dest_start + (GREATEST(src_start, q_start) - src_start)
       ELSE dest_start + (src_end - LEAST(src_end, q_end)) END AS dest_start,
  CASE WHEN dest_ori >= 0 THEN dest_end - (src_end - LEAST(src_end, q_end))
       ELSE dest_end - (GREATEST(src_start, q_start) - src_start) END AS dest_end,
  dest_ori, block_id
FROM a JOIN q ON a.src_id = q.src_id AND src_start < q_end AND q_start < src_end)"""


def _align_sql(v, inputs):
    a = f"a AS (SELECT * FROM '{inputs}/store_{v['store']}.parquet')"
    op = v["op"]
    if op in ("slice", "write"):
        return f"WITH {a}, q AS (SELECT * FROM '{inputs}/{v['queries']}'),\n{_SLICE}\nSELECT * FROM sl"
    if op == "hop2":
        # hop 2 re-queries the (bidirectional) store itself with the axis
        # intervals of hop 1
        return f"""WITH {a}, q AS (SELECT * FROM '{inputs}/{v['queries']}'),
{_SLICE},
h1 AS (SELECT q_id, src_id, src_start AS s1, src_end AS e1, dest_id AS axis_id,
  dest_start AS m1s, dest_end AS m1e, dest_ori AS ori1 FROM sl),
h2 AS (SELECT src_id AS axis_id, src_start AS s2, src_end AS e2, dest_id AS y_id,
  dest_start AS t2s, dest_end AS t2e, dest_ori AS ori2 FROM a),
t AS (SELECT h1.*, h2.s2, h2.e2, h2.y_id, h2.t2s, h2.t2e, h2.ori2,
  GREATEST(m1s, s2) AS ms, LEAST(m1e, e2) AS me
  FROM h1 JOIN h2 ON h1.axis_id = h2.axis_id AND m1s < e2 AND s2 < m1e),
r AS (SELECT q_id, src_id,
  CASE WHEN ori1 >= 0 THEN s1 + (ms - m1s) ELSE s1 + (m1e - me) END AS src_start,
  CASE WHEN ori1 >= 0 THEN s1 + (me - m1s) ELSE s1 + (m1e - ms) END AS src_end,
  y_id AS dest_id,
  CASE WHEN ori2 >= 0 THEN t2s + (ms - s2) ELSE t2s + (e2 - me) END AS dest_start,
  CASE WHEN ori2 >= 0 THEN t2s + (me - s2) ELSE t2s + (e2 - ms) END AS dest_end,
  ori1 * ori2 AS dest_ori FROM t)
SELECT q_id, dest_id, dest_ori, MIN(src_start) AS src_start, MAX(src_end) AS src_end,
  MIN(dest_start) AS dest_start, MAX(dest_end) AS dest_end, COUNT(*) AS n_blocks
FROM r WHERE dest_id <> src_id OR src_start <> dest_start
GROUP BY q_id, dest_id, dest_ori"""
    if op == "ijoin":
        return f"""WITH {a}, p AS (SELECT * FROM '{inputs}/{v['points']}')
SELECT a.*, p.src_id AS p_src_id, p.p FROM a JOIN p
  ON a.src_id = p.src_id AND a.src_start <= p.p AND p.p < a.src_end"""
    if op == "cov":
        return f"""WITH {a},
ev AS (SELECT src_id, src_start AS pos, 1 AS delta FROM a
       UNION ALL SELECT src_id, src_end, -1 FROM a),
agg AS (SELECT src_id, pos, CAST(SUM(delta) AS BIGINT) AS delta FROM ev GROUP BY src_id, pos),
scan AS (SELECT src_id, pos,
  CAST(SUM(delta) OVER (PARTITION BY src_id ORDER BY pos) AS BIGINT) AS depth,
  LEAD(pos) OVER (PARTITION BY src_id ORDER BY pos) AS next_pos FROM agg)
SELECT src_id, MAX(depth) AS max_depth,
  CAST(SUM(CASE WHEN depth >= 1 THEN next_pos - pos ELSE 0 END) AS BIGINT) AS covered
FROM scan WHERE next_pos IS NOT NULL GROUP BY src_id"""
    raise ValueError(op)


def fingerprint(con, sql):
    """(row count, order-independent hash) of a query's result."""
    con.execute(f"CREATE OR REPLACE TEMP VIEW __r AS {sql}")
    cols = sorted(r[0] for r in con.execute("DESCRIBE __r").fetchall())
    row = "concat_ws('|', " + ", ".join(
        f"COALESCE(CAST(\"{c}\" AS VARCHAR), '\\N')" for c in cols) + ")"
    n, h = con.execute(
        f"SELECT COUNT(*), COALESCE(SUM(('0x' || substr(md5({row}), 1, 8))::BIGINT), 0) FROM __r"
    ).fetchone()
    return [int(n), int(h)]


GRAPH_OPS = ("cc", "sp", "lpa", "kcore", "scc")


def references(workload, inputs, var):
    """Reference fingerprint per reference id (a variant's `ref`, else its id)."""
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    out = {}
    for k, v in sorted(var.items()):
        ref = v.get("ref", k)
        if ref in out:
            continue
        v = var[ref]
        if workload == "align_rw":
            sql = _align_sql(v, inputs)
        else:
            graph = v["op"] in GRAPH_OPS
            edges = "graph_edges" if graph else "motif_edges"
            con.execute(f"CREATE OR REPLACE TEMP VIEW e AS SELECT * FROM '{inputs}/{edges}.parquet'")
            sql = _graph_sql(v) if graph else _motif_sql(v)
        out[ref] = fingerprint(con, sql)
    con.close()
    return out
