"""Recall bound for the approximate-NN scale path.

llm_ann_ivf is rows-only at the driver gate (no SQL can express the
probe schedule); its real correctness check is recall against the
exact brute-force top-k (llm_sim_topk) on the same corpus.

Measured on the fixture embeddings: IVF(16 cells, nprobe=2) recall@10
is 0.82 at sf0.001 and 0.90 at sf0.01. The bound below (0.70) leaves
headroom for retuning cells/nprobe while catching real regressions
(wrong cell assignment, probe schedule off-by-one, candidate-join key
mix-ups all land near zero).

Sign-LSH (llm_ann_lsh) is intentionally NOT bounded here: the fixture
vectors are weakly correlated (true top-10 neighbors sit at cosine
0.24-0.40), a regime where 8-bit hyperplane collision probability is
p^8 with p = 1 - theta/pi ~= 0.6, i.e. ~2% per bucket BY MATH, not by
bug. Its docstring points to IVF as the scale path for this regime.
"""

from __future__ import annotations

import __spark_entry__ as entry_mod

QUERIES = entry_mod.queries()


def test_ivf_recall_at_10(spark, sf_dir):
    exact = {
        (r.q_id, r.c_id) for r in QUERIES["llm_sim_topk"](spark, sf_dir).collect()
    }
    ivf = {
        (r.q_id, r.c_id) for r in QUERIES["llm_ann_ivf"](spark, sf_dir).collect()
    }
    assert exact, "exact top-k returned nothing — fixture broken"
    recall = len(ivf & exact) / len(exact)
    assert recall >= 0.70, f"IVF recall@10 {recall:.2f} < 0.70"


def test_ann_lsh_witness_equals_python_recomputation(spark, sf_dir):
    """llm_ann_lsh_verifiable's full output — buckets, candidate
    sets, integer dot products, top-10 ranking — recomputed from
    scratch in Python over the raw parquet. Third implementation:
    the differential proves Spark == DuckDB; this proves both equal
    the algorithm's definition (quantize → deterministic planes →
    sign bucket → integer re-rank with (qdot DESC, c_id) ties)."""
    import math

    import __spark_entry__ as entry_mod

    from etl_geonames_spark.sources import load_table

    rows = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    q = {
        r["vec_id"]: [math.floor(float(x) * 1000 + 0.5) for x in r["embedding"]]
        for r in rows
    }

    def bucket(v):
        b = 0
        for m in range(8):
            dot = sum(
                x * (((i * 31 + m * 17 + 7) % 101) - 50)
                for i, x in enumerate(v)
            )
            if dot >= 0:
                b |= 1 << m
        return b

    bk = {vid: bucket(v) for vid, v in q.items()}
    expect = set()
    for qid in [v for v in q if v < 5]:
        cands = [
            (sum(a * b for a, b in zip(q[qid], q[c])), c)
            for c in q
            if c != qid and bk[c] == bk[qid]
        ]
        cands.sort(key=lambda t: (-t[0], t[1]))
        for qdot, cid in cands[:10]:
            expect.add((qid, cid, qdot))
    got = {
        (r["q_id"], r["c_id"], r["qdot"])
        for r in entry_mod.queries()["llm_ann_lsh_verifiable"](
            spark, sf_dir
        ).collect()
    }
    assert got == expect
