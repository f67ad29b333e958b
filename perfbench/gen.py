"""Seeded inputs for the graft benchmark.

Everything the benchmark feeds the program comes from here: the TPC-H-shaped
parquet tables the KG is derived from, the document corpus, and the op stream
of each workload. The same (seed, scale) always yields byte-identical tables
and an identical op list; table sizes depend on the scale only, so two seeds
load the same amount of data and differ only in values and anchors.
"""

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# TPC-H nation -> region assignment (spec clause 4.2.3).
NATION_REGION = [0, 1, 1, 1, 4, 0, 3, 3, 2, 2, 4, 4, 2, 4, 0, 0, 0, 1, 2, 3,
                 4, 2, 3, 3, 1]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
LANGS = ["en", "de", "fr", "es", "zh"]
VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
         "window spark order data column join small line customer query big "
         "filter sort group stream vector plan edge node path rank score "
         "graph train shard frame").split()

# Entity-id namespace of the KG view (graft.model.KG): tag * 1e8 + key.
TAG = {"customer": 1, "nation": 2, "region": 3, "supplier": 4, "part": 5,
       "order": 6, "segment": 7}


def ent(kind, key):
    return TAG[kind] * 100_000_000 + key


# Relation ids of the KG view; odd = inverse of the even one below it.
CN, SN, NR, OC, PS, CG, ON, CP, CS, CPB, PSB = (0, 2, 4, 6, 8, 10, 12, 14,
                                                16, 18, 20)


def inv(rel):
    return rel ^ 1


# The 25 EFO-1 shapes of graft.KGQueries (15 BetaE incl. the DNF form of up,
# plus 10 EFO-1 extended): name, formula, relation binding, and the entity
# kind of each anchor. Anchors are drawn per instance from valid ids.
SHAPES = [
    ("1p", "r1(s1,f)", {"r1": inv(CN)}, {"s1": "nation"}),
    ("2p", "r1(s1,e1)&r2(e1,f)", {"r1": inv(NR), "r2": inv(CN)},
     {"s1": "region"}),
    ("3p", "r1(s1,e1)&r2(e1,e2)&r3(e2,f)",
     {"r1": inv(NR), "r2": inv(CN), "r3": inv(OC)}, {"s1": "region"}),
    ("2i", "r1(s1,f)&r2(s2,f)", {"r1": inv(PS), "r2": inv(PS)},
     {"s1": "supplier", "s2": "supplier"}),
    ("3i", "r1(s1,f)&r2(s2,f)&r3(s3,f)",
     {"r1": inv(PS), "r2": inv(PS), "r3": inv(PS)},
     {"s1": "supplier", "s2": "supplier", "s3": "supplier"}),
    ("ip", "r1(s1,e1)&r2(s2,e1)&r3(e1,f)",
     {"r1": inv(CN), "r2": inv(CG), "r3": inv(OC)},
     {"s1": "nation", "s2": "segment"}),
    ("pi", "r1(s1,e1)&r2(e1,f)&r3(s2,f)",
     {"r1": inv(NR), "r2": inv(CN), "r3": inv(CG)},
     {"s1": "region", "s2": "segment"}),
    ("2in", "r1(s1,f)&!r2(s2,f)", {"r1": inv(PS), "r2": inv(PS)},
     {"s1": "supplier", "s2": "supplier"}),
    ("3in", "r1(s1,f)&r2(s2,f)&!r3(s3,f)",
     {"r1": inv(PS), "r2": inv(PS), "r3": inv(PS)},
     {"s1": "supplier", "s2": "supplier", "s3": "supplier"}),
    ("inp", "r1(s1,e1)&!r2(s2,e1)&r3(e1,f)",
     {"r1": inv(CN), "r2": inv(CG), "r3": inv(OC)},
     {"s1": "nation", "s2": "segment"}),
    ("pin", "r1(s1,e1)&r2(e1,f)&!r3(s2,f)",
     {"r1": inv(NR), "r2": inv(CN), "r3": inv(CG)},
     {"s1": "region", "s2": "segment"}),
    ("pni", "r1(s1,e1)&!r2(e1,f)&r3(s2,f)",
     {"r1": inv(NR), "r2": inv(CN), "r3": inv(CG)},
     {"s1": "region", "s2": "segment"}),
    ("2u", "r1(s1,f)|r2(s2,f)", {"r1": inv(PS), "r2": inv(PS)},
     {"s1": "supplier", "s2": "supplier"}),
    ("up", "(r1(s1,e1)|r2(s2,e1))&r3(e1,f)",
     {"r1": inv(CN), "r2": inv(CG), "r3": inv(OC)},
     {"s1": "nation", "s2": "segment"}),
    ("up_dnf", "(r1(s1,e1)&r3(e1,f))|(r2(s2,e1)&r3(e1,f))",
     {"r1": inv(CN), "r2": inv(CG), "r3": inv(OC)},
     {"s1": "nation", "s2": "segment"}),
    ("2m", "((r1(s1,e1))&(r2(e1,f)))&(r3(e1,f))",
     {"r1": inv(CN), "r2": CP, "r3": CPB}, {"s1": "nation"}),
    ("2nm", "((r1(s1,e1))&(r2(e1,f)))&(!(r3(e1,f)))",
     {"r1": inv(CN), "r2": CP, "r3": CPB}, {"s1": "nation"}),
    ("3mp", "(((r1(s1,e1))&(r2(e1,e2)))&(r3(e2,f)))&(r4(e1,e2))",
     {"r1": inv(CN), "r2": CP, "r3": inv(CPB), "r4": CPB}, {"s1": "nation"}),
    ("3pm", "(((r1(s1,e1))&(r2(e1,e2)))&(r3(e2,f)))&(r4(e2,f))",
     {"r1": inv(NR), "r2": inv(CN), "r3": CP, "r4": CPB}, {"s1": "region"}),
    ("im", "(((r1(s1,e1))&(r2(s2,e1)))&(r3(e1,f)))&(r4(e1,f))",
     {"r1": inv(PS), "r2": inv(PS), "r3": inv(CP), "r4": inv(CPB)},
     {"s1": "supplier", "s2": "supplier"}),
    ("2il", "(r1(s1,f))&(r2(e1,f))", {"r1": inv(PS), "r2": CPB},
     {"s1": "supplier"}),
    ("3il", "((r1(s1,f))&(r2(s2,f)))&(r3(e1,f))",
     {"r1": inv(PS), "r2": inv(PS), "r3": CPB},
     {"s1": "supplier", "s2": "supplier"}),
    ("3c", "((((r1(s1,e1))&(r2(e1,f)))&(r3(s2,e2)))&(r4(e2,f)))&(r5(e1,e2))",
     {"r1": inv(CN), "r2": CP, "r3": inv(SN), "r4": inv(PS), "r5": CS},
     {"s1": "nation", "s2": "nation"}),
    ("3cm", "(((((r1(s1,e1))&(r2(e1,f)))&(r3(s2,e2)))&(r4(e2,f)))"
            "&(r5(e1,e2)))&(r6(e1,f))",
     {"r1": inv(CN), "r2": CP, "r3": inv(SN), "r4": inv(PS), "r5": CS,
      "r6": CPB}, {"s1": "nation", "s2": "nation"}),
    ("3pcp", "(((((r1(s1,e1))&(r2(e1,e3)))&(r3(s2,e2)))&(r4(e2,e3)))"
             "&(r5(e1,e2)))&(r6(e3,f))",
     {"r1": inv(CN), "r2": CP, "r3": inv(SN), "r4": inv(PS), "r5": CS,
      "r6": inv(CPB)}, {"s1": "nation", "s2": "nation"}),
]
SHAPE = {s[0]: s for s in SHAPES}



def sizes(sf):
    """Row counts at scale factor `sf` (TPC-H ratios, at least 25 suppliers so
    every nation can have one)."""
    return {"customer": max(50, int(150_000 * sf)),
            "supplier": max(25, int(10_000 * sf)),
            "part": max(50, int(200_000 * sf)),
            "orders": max(200, int(1_500_000 * sf)),
            "documents": max(120, int(300_000 * sf))}


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def make_tables(out_dir, sf, seed):
    """Write the TPC-H-shaped tables and documents.parquet; returns the
    anchor ids of each entity kind (balanced keys give every id edges) and
    the partsupp stride between a part's suppliers."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    nc, ns, np_, no = n["customer"], n["supplier"], n["part"], n["orders"]

    _write(f"{out_dir}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": [f"REGION{i}" for i in range(5)]})
    _write(f"{out_dir}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION{i}" for i in range(25)],
        "n_regionkey": pa.array(NATION_REGION, pa.int32())})
    # Every key is assigned round-robin over a seeded permutation: each
    # nation has the same number of customers and suppliers, each customer
    # the same number of orders, each part the same number of lines. The
    # seed decides which ids are linked, never how many, so an op's cost does
    # not depend on which anchors the seed draws.
    def balanced(n, k):
        return rng.permutation(n) % k

    c_nat = balanced(nc, 25)
    c_seg = balanced(nc, 5)
    _write(f"{out_dir}/customer.parquet", {
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(c_nat, pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, nc), 2)),
        "c_mktsegment": [SEGMENTS[s] for s in c_seg]})
    s_nat = balanced(ns, 25)
    _write(f"{out_dir}/supplier.parquet", {
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(s_nat, pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, ns), 2))})
    _write(f"{out_dir}/part.parquet", {
        "p_partkey": pa.array(range(np_), pa.int64()),
        "p_name": [f"part {i}" for i in range(np_)],
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": pa.array(np.round(rng.uniform(900, 2000, np_), 2))})
    o_cust = balanced(no, nc)
    _write(f"{out_dir}/orders.parquet", {
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(o_cust, pa.int64()),
        "o_totalprice": pa.array(np.round(rng.uniform(800, 5e5, no), 2))})
    # Four lines per order; each part has four candidate suppliers (the
    # TPC-H partsupp pattern), so part->supplier edges are dense per part.
    lines = 4
    l_order = np.repeat(np.arange(no), lines)
    l_part = balanced(no * lines, np_)
    stride = ns // 4 + 1
    l_supp = (l_part + balanced(no * lines, 4) * stride) % ns
    _write(f"{out_dir}/lineitem.parquet", {
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(l_supp, pa.int64()),
        "l_linenumber": pa.array(np.tile(np.arange(1, lines + 1), no),
                                 pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, no * lines)
                               .astype(np.float64))})
    _write_documents(f"{out_dir}/documents.parquet", n["documents"], rng)

    return {"nation": list(range(25)), "region": list(range(5)),
            "supplier": list(range(ns)), "segment": list(range(5)),
            "supplier_stride": stride}


def _write_documents(path, n_docs, rng):
    """Random-word documents with planted exact duplicates, near duplicates
    (one word changed) and shared 12-word spans, so exact dedup, MinHash
    near-dup and span redaction all have work to do."""
    spans = [" ".join(rng.choice(VOCAB, 12)) for _ in range(8)]
    texts = []
    for i in range(n_docs):
        r = i % 10
        if r == 7 and i >= 10:          # exact copy of an earlier doc
            texts.append(texts[i - 7])
        elif r == 8 and i >= 10:        # near copy: one word replaced
            words = texts[i - 5].split()
            words[len(words) // 2] = str(rng.choice(VOCAB))
            texts.append(" ".join(words))
        else:
            words = list(rng.choice(VOCAB, int(rng.integers(20, 80))))
            if r in (2, 5):             # plant a shared span
                k = int(rng.integers(0, len(words)))
                words[k:k] = spans[int(rng.integers(0, len(spans)))].split()
            texts.append(" ".join(words))
    _write(path, {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[int(x)] for x in rng.integers(0, 5, n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def _instance(shape_name, anchors, rnd):
    """One instance of a shape: its binding with anchors drawn from the valid
    ids of each kind; anchors of one kind within an instance are distinct.
    Second and third suppliers are one and two partsupp strides from the
    first, so supplier intersections are never empty: an empty intermediate
    lets Spark skip the rest of a plan, which would make an op's cost depend
    on the anchors the seed draws."""
    name, lstr, rels, kinds = SHAPE[shape_name]
    b = dict(rels)
    used = {}
    for var, kind in sorted(kinds.items()):
        taken = used.setdefault(kind, [])
        if kind == "supplier" and taken:
            key = (taken[0] + len(taken) * anchors["supplier_stride"]) \
                % len(anchors["supplier"])
        else:
            key = rnd.choice([k for k in anchors[kind] if k not in taken])
        taken.append(key)
        b[var] = ent(kind, key)
    return {"shape": name, "lstr": lstr, "binding": b}


def _rounds(units, n_rounds, rnd):
    """`n_rounds` rounds, each every unit once in a seeded order: the op mix
    of a round is the same for every seed, only anchors and order differ. A
    unit is a list of ops that run back to back."""
    ops = []
    for _ in range(n_rounds):
        r = list(units)
        rnd.shuffle(r)
        for u in r:
            ops.extend(u)
    return ops


def plan(workload, seed, anchors, sf, n_rounds=64):
    """The op stream of a workload: `ops` (rounds of `round_len` ops, more
    than any run finishes) and `warm`, what the warm-up runs: every distinct
    op two or three times."""
    rnd = random.Random(f"{workload}:{seed}")
    if workload == "efo1_exact":
        units = [[dict(kind="exact", **_instance(s[0], anchors, rnd))]
                 for s in SHAPES]
    elif workload == "ranked_iterative_ingest":
        units = _ranked_units(anchors, rnd) + _iterative_units(anchors, rnd) \
            + _corpus_units(sf, rnd)
    else:
        raise ValueError(f"unknown workload {workload}")
    distinct = [op for u in units for op in u]
    # Ops keep getting faster for several rounds while the JIT compiles
    # Spark's planning paths (exact round medians 402, 241, 218, 200, then
    # about 185 ms). Three passes of the short exact round fit the time
    # budget; the long mixed round gets one, since a second made its runs
    # 30 % longer without making them steadier.
    warm = distinct * (3 if workload == "efo1_exact" else 1)
    return {"ops": _rounds(units, n_rounds, rnd), "round_len": len(distinct),
            "warm": warm}


def _ranked_units(anchors, rnd):
    """CQD at beam 16 and 128 and unbounded, batched CQD and LMPNN, so all
    four KGE models score in every round, over nation-, region-, supplier-
    and segment-anchored shapes. Shapes are fixed per unit; the seed draws
    the anchors."""
    def inst(shape):
        return _instance(shape, anchors, rnd)
    return [
        [dict(kind="rank", model="transe", beam=16, **inst("3p"))],
        [dict(kind="rank", model="distmult", beam=128, **inst("2p"))],
        # Segment-anchored (a union, so its answer set is never empty).
        [dict(kind="rank", model="transe", beam=16, **inst("up"))],
        # beam -1: unbounded, checked against a brute-force score.
        [dict(kind="rank", model="complex", beam=-1, **inst("2i"))],
        [dict(kind="rank", model="rotate", beam=-1, **inst("2u"))],
        [dict(kind="batch", model="complex", beam=16, shape="3i",
              lstr=SHAPE["3i"][1],
              bindings=[inst("3i")["binding"] for _ in range(8)])],
        [dict(kind="lmpnn", model="rotate",
              instances=[inst("1p"), inst("2p")])],
    ]


def _iterative_units(anchors, rnd):
    """Two-step TransE training followed by the evaluation of the parameters
    it wrote, and the three graph loops."""
    regions = [ent("region", r) for r in anchors["region"]]
    return [[dict(kind="train", model="transe"),
             dict(kind="eval", model="transe")],
            [dict(kind="bfs", seeds=sorted(rnd.sample(regions, 2)))],
            [dict(kind="pagerank")], [dict(kind="components")]]


def _corpus_units(sf, rnd):
    """The whole corpus through clean, tiers and redact, and one shard of
    encoded audio files through the decoder."""
    n_docs = sizes(sf)["documents"]
    # Planted exact copies (see _write_documents): the copy must go, the
    # original must stay.
    copies = [i for i in range(10, n_docs) if i % 10 == 7]
    corpus = dict(lo=0, hi=n_docs)
    return [
        [dict(kind="clean", must_drop=copies,
              must_keep=[i - 7 for i in copies], **corpus)],
        [dict(kind="tiers", **corpus)],
        [dict(kind="redact", spans=sum(1 for i in range(n_docs)
                                       if i % 10 in (2, 5)), **corpus)],
        [dict(kind="decode", files=[
            dict(codec=rnd.choice(["mp3", "aac", "flac"]),
                 id=rnd.randrange(1 << 20), frames=rnd.randint(2, 4))
            for _ in range(24)])],
    ]
