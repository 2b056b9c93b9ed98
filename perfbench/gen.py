"""Seeded input generator for the benchmark workloads.

Every input is a parquet file written here; the engine only ever reads
these files, never an upstream lazy plan, so an operation's cost belongs
to the layer it calls. The same seed and sizes give identical rows.

    python3 perfbench/gen.py --workload graph_motif --seed 7 --out DIR
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes per workload; every run records them in its artifact.
SIZES = {
    "graph_motif": {
        # Graph analytics part: disjoint clusters, each a short directed
        # tail feeding a long directed ring. Node ids rise from the tail
        # tip around the ring: shortestPaths runs its full max_dist (15)
        # and SCC colouring walks the whole ring (>= 16 supersteps each
        # way); min-label propagation (connectedComponents) walks the tail
        # and half the ring. The 2-core peel (kCore) takes one round per
        # tail node.
        "clusters": 30,
        "tail_min": 1, "tail_max": 2,
        "ring_min": 16, "ring_max": 18,
        "chords_max": 1,
        "landmark_sets": 3, "landmarks": 4,
        # Motif part: ~62k edges, the size of the j5 edge set at sf0.01
        # (lineitem's supplier->part edges, 60k rows). Source out-degree is
        # heavy-tailed (Zipf weights), target in-degree is bounded. A small
        # share of targets sits above motif_chunk, so sharedNeighbors runs
        # both its cold self-join and its chunked hot-hub branch.
        "sources": 1000, "targets": 9000,
        "source_zipf": 1.1,
        "cold_deg_mean": 6, "hot_share": 0.01,
        "hot_deg_min": 65, "hot_deg_max": 130,
        "motif_chunk": 64,
    },
    "align_rw": {
        # Two stores with opposite shapes. sparse: many sequences, about
        # one block per (src, dest, ori) lane. dense: few chromosomes,
        # long syntenic runs of blocks onto two shared axes.
        "sparse_seqs": 3000, "sparse_axes": 30, "sparse_blocks_max": 4,
        "dense_chroms": 6, "dense_axes": 2, "dense_blocks": 3000,
        "query_sets": 3, "queries": 150,
        "point_sets": 2, "points": 2000,
    },
}

WORKLOADS = tuple(SIZES)


def _write(path, columns):
    pq.write_table(pa.table(columns), path)


def gen_graph(rng, sz, out):
    src, dst, ring_ids = [], [], []
    next_id = 1
    # tail and ring lengths cycle through their ranges in a seeded order,
    # so every seed has the same length mix (and the same superstep counts)
    n = sz["clusters"]
    tails = rng.permutation([sz["tail_min"] + i % (sz["tail_max"] - sz["tail_min"] + 1) for i in range(n)])
    rings = rng.permutation([sz["ring_min"] + i % (sz["ring_max"] - sz["ring_min"] + 1) for i in range(n)])
    for tail, ring_len in zip(tails.tolist(), rings.tolist()):
        ids = list(range(next_id, next_id + tail + ring_len))
        next_id += tail + ring_len + int(rng.integers(1, 40))
        chain, ring = ids[:tail], ids[tail:]
        pairs = list(zip(chain, chain[1:])) + [(chain[-1], ring[0])]
        pairs += list(zip(ring, ring[1:] + ring[:1]))
        for _ in range(int(rng.integers(0, sz["chords_max"] + 1))):
            a, b = rng.choice(ring, 2, replace=False)
            pairs.append((int(a), int(b)))
        for a, b in dict.fromkeys(pairs):
            src.append(a)
            dst.append(b)
        ring_ids.append(ring)
    _write(os.path.join(out, "graph_edges.parquet"), {
        "src": pa.array(src, pa.int64()), "dst": pa.array(dst, pa.int64())})
    ring_nodes = [x for ring in ring_ids for x in ring]
    landmarks = [sorted(int(x) for x in rng.choice(ring_nodes, sz["landmarks"], replace=False))
                 for _ in range(sz["landmark_sets"])]
    return {"landmarks": landmarks}


def gen_motif(rng, sz, out):
    n_src, n_tgt = sz["sources"], sz["targets"]
    w = 1.0 / np.arange(1, n_src + 1) ** sz["source_zipf"]
    w = w[rng.permutation(n_src)]
    w /= w.sum()
    # a fixed number of hot targets with evenly spread degrees, the rest
    # geometric below the hot range, in a seeded order
    n_hot = round(sz["hot_share"] * n_tgt)
    hot = np.linspace(sz["hot_deg_min"], sz["hot_deg_max"], n_hot).round().astype(int)
    cold = np.minimum(rng.geometric(1.0 / sz["cold_deg_mean"], n_tgt - n_hot),
                      sz["hot_deg_min"] - 1)
    deg = rng.permutation(np.concatenate([hot, cold]))
    src, dst = [], []
    for t in range(n_tgt):
        # Gumbel top-k: d distinct sources drawn with weights w
        keys = np.log(w) + rng.gumbel(size=n_src)
        chosen = np.argpartition(keys, -int(deg[t]))[-int(deg[t]):]
        src.extend(chosen.tolist())
        dst.extend([1_000_000 + t] * len(chosen))
    _write(os.path.join(out, "motif_edges.parquet"), {
        "src": pa.array(src, pa.int64()), "dst": pa.array(dst, pa.int64())})
    return {"chunk_size": sz["motif_chunk"]}


def gen_graph_motif(rng, sz, out):
    return dict(gen_graph(rng, sz, out), **gen_motif(rng, sz, out))


def _blocks(rows):
    names = ["src_id", "src_start", "src_end", "dest_id", "dest_start",
             "dest_end", "dest_ori", "block_id"]
    types = [pa.string(), pa.int64(), pa.int64(), pa.string(), pa.int64(),
             pa.int64(), pa.int32(), pa.int64()]
    # every block is stored in both directions, so two-hop slices can
    # pass through the shared axis (the bidirectional NLMSA layout)
    mirrored = rows + [(d, ds, de, s, ss, se, o, b) for (s, ss, se, d, ds, de, o, b) in rows]
    return {n: pa.array([r[i] for r in mirrored], t) for i, (n, t) in enumerate(zip(names, types))}


def _spread(rng, lo, hi, n):
    """n values evenly spread over [lo, hi], in a seeded order: the same
    mix for every seed."""
    return rng.permutation(np.linspace(lo, hi, n).round().astype(int)).tolist()


def _sparse_store(rng, sz):
    rows, bid = [], 0
    per_seq = _spread(rng, 1, sz["sparse_blocks_max"], sz["sparse_seqs"])
    for k in range(sz["sparse_seqs"]):
        for _ in range(per_seq[k]):
            ln = int(rng.integers(100, 1000))
            s = int(rng.integers(0, 10_000 - ln))
            d = int(rng.integers(0, 1_000_000 - ln))
            rows.append((f"s{k}", s, s + ln, f"x{int(rng.integers(sz['sparse_axes']))}",
                         d, d + ln, 1 if rng.random() < 0.8 else -1, bid))
            bid += 1
    return rows, {f"s{k}": 10_000 for k in range(sz["sparse_seqs"])}


def _dense_store(rng, sz):
    rows, bid, lengths = [], 0, {}
    for c in range(sz["dense_chroms"]):
        axis, offset, pos = f"y{c % sz['dense_axes']}", int(rng.integers(0, 5000)), 0
        for _ in range(sz["dense_blocks"]):
            ln = int(rng.integers(100, 400))
            d = offset + pos + int(rng.integers(0, 50))
            rows.append((f"c{c}", pos, pos + ln, axis, d, d + ln,
                         1 if rng.random() < 0.9 else -1, bid))
            bid += 1
            pos += ln + int(rng.integers(20, 200))
        lengths[f"c{c}"] = pos
    return rows, lengths


def _queries(rng, sz, lengths):
    keys = sorted(lengths)
    q_id, src_id, q_start, q_end = [], [], [], []
    n = sz["queries"] // 3
    # a third each of point, narrow and wide queries
    widths = [1] * n + _spread(rng, 50, 500, n) + _spread(rng, 5_000, 50_000, n)
    for i, width in enumerate(widths):
        k = keys[int(rng.integers(len(keys)))]
        s = int(rng.integers(0, max(1, lengths[k] - width)))
        q_id.append(i)
        src_id.append(k)
        q_start.append(s)
        q_end.append(s + width)
    return {"q_id": pa.array(q_id, pa.int64()), "src_id": pa.array(src_id, pa.string()),
            "q_start": pa.array(q_start, pa.int64()), "q_end": pa.array(q_end, pa.int64())}


def _points(rng, sz, rows):
    spans = {}
    for r in rows:
        lo, hi = spans.get(r[0], (r[1], r[2]))
        spans[r[0]] = (min(lo, r[1]), max(hi, r[2]))
    keys = sorted(spans)
    ks = [keys[int(i)] for i in rng.integers(len(keys), size=sz["points"])]
    ps = [int(rng.integers(spans[k][0], spans[k][1])) for k in ks]
    return {"src_id": pa.array(ks, pa.string()), "p": pa.array(ps, pa.int64())}


def gen_align(rng, sz, out):
    for name, build in (("sparse", _sparse_store), ("dense", _dense_store)):
        rows, lengths = build(rng, sz)
        blocks = _blocks(rows)
        _write(os.path.join(out, f"store_{name}.parquet"), blocks)
        for i in range(sz["query_sets"]):
            _write(os.path.join(out, f"queries_{name}_{i}.parquet"), _queries(rng, sz, lengths))
        mirrored = list(zip(*[blocks[c].to_pylist() for c in ("src_id", "src_start", "src_end")]))
        for i in range(sz["point_sets"]):
            _write(os.path.join(out, f"points_{name}_{i}.parquet"), _points(rng, sz, mirrored))
    return {"stores": ["sparse", "dense"], "query_sets": sz["query_sets"],
            "point_sets": sz["point_sets"]}


GENERATORS = {"graph_motif": gen_graph_motif, "align_rw": gen_align}


def generate(workload, seed, out, sizes=None):
    """Write the workload's inputs into `out` and return the operation
    arguments the generator drew (landmarks, store names, ...)."""
    sz = dict(SIZES[workload], **(sizes or {}))
    os.makedirs(out, exist_ok=True)
    # one stream per workload, so adding a workload never shifts another's rows
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    args = GENERATORS[workload](rng, sz, out)
    with open(os.path.join(out, "args.json"), "w") as f:
        json.dump({"workload": workload, "seed": seed, "sizes": sz, "args": args}, f, indent=1)
    return args


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--sizes", default="{}", help="JSON object overriding SIZES entries")
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out, json.loads(a.sizes))


if __name__ == "__main__":
    main()
