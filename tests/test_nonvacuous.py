"""Non-vacuousness guards for the queries the r3 verdict flagged as
green-on-empty: a parity hash match on an empty/zero result proves
nothing about the operator's logic, so these tests pin that each query
demonstrably touches data at the smoke scale.

- q_tpch_q6 / q_tpch_q10: date windows must select real rows (the old
  1993/1994 TPC-H windows predate the synthetic data, which spans
  1995-01..2001-08).
- q_graph_two_hop: the raw directed KG is bipartite args->Drug, so the
  symmetrized ('_inv') edge set is what makes 2-hop paths possible.
- q_graph_triangles: relation edges alone can never close a triangle on
  a bipartite graph; the same-doc subject co-occurrence edges do.
- q_graph_user_components: the events co-action graph must have nodes
  and more than zero edges (node count grows with sf: 15/150/1500).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_tpch_q6_touches_rows(spark):
    from clinicaltransformerrelationextraction_spark.operators.relational import (
        q_tpch_q6,
    )

    row = q_tpch_q6(spark, SF_SMOKE).first()
    assert row.n_rows > 0
    assert row.revenue > 0.0


def test_tpch_q10_touches_rows(spark):
    from clinicaltransformerrelationextraction_spark.operators.relational import (
        q_tpch_q10,
    )

    rows = q_tpch_q10(spark, SF_SMOKE).collect()
    assert len(rows) == 20  # full top-k, not a truncated empty set
    assert all(r.revenue > 0.0 for r in rows)
    # descending revenue with c_custkey tiebreak — the top-k actually ranked
    revs = [r.revenue for r in rows]
    assert revs == sorted(revs, reverse=True)


def test_graph_two_hop_has_paths(spark):
    from clinicaltransformerrelationextraction_spark.operators.graph import (
        q_graph_two_hop,
    )

    df = q_graph_two_hop(spark, SF_SMOKE)
    total = df.agg(F.sum("n_paths").alias("s")).first().s
    assert total and total > 0
    # both directions must participate: some path uses an inverse edge
    inv = df.filter(
        F.col("p1").endswith("_inv") | F.col("p2").endswith("_inv")
    ).count()
    assert inv > 0


def test_graph_triangles_nonzero(spark):
    from clinicaltransformerrelationextraction_spark.operators.graph import (
        q_graph_triangles,
    )

    assert q_graph_triangles(spark, SF_SMOKE).first().n_triangles > 0


def test_graph_user_components_nonempty(spark):
    from clinicaltransformerrelationextraction_spark.operators.graph import (
        q_graph_user_components,
    )

    rows = q_graph_user_components(spark, SF_SMOKE).collect()
    assert len(rows) > 0
    n_roots = sum(r.is_root for r in rows)
    assert 1 <= n_roots <= len(rows)
    # every member's component label is a real node that is a root
    roots = {r.entity for r in rows if r.is_root}
    assert all(r.component in roots for r in rows)


def _star_equals_minlabel(spark, und):
    from clinicaltransformerrelationextraction_spark.operators.graph import (
        min_label_components,
        star_components,
    )

    a = sorted(
        (r.entity, r.component, r.is_root)
        for r in min_label_components(und).collect()
    )
    b = sorted(
        (r.entity, r.component, r.is_root)
        for r in star_components(und).collect()
    )
    assert a == b
    assert a  # nonvacuous


def test_star_components_match_minlabel_synthetic(spark):
    """Large-star/small-star contraction == min-label propagation on
    adversarial shapes: a long path (worst diameter for propagation), a
    star hub, a complete clump, singleton edges, and a seeded random
    graph."""
    import random

    edges = []
    edges += [(i, i + 1) for i in range(100, 140)]        # 41-node path
    edges += [(500, v) for v in range(501, 540)]          # star hub
    edges += [(a, b) for a in range(900, 910)
              for b in range(a + 1, 910)]                 # complete K10
    edges += [(2000, 2001), (3000, 3001)]                 # tiny islands
    rng = random.Random(42)
    nodes = list(range(5000, 5200))
    edges += [tuple(sorted(rng.sample(nodes, 2))) for _ in range(150)]
    und = spark.createDataFrame(edges, "a long, b long").distinct()
    _star_equals_minlabel(spark, und)


def test_star_components_match_minlabel_real(spark):
    from clinicaltransformerrelationextraction_spark.operators import graph

    und = graph._undirected(spark, SF_SMOKE)
    _star_equals_minlabel(spark, und)


def test_hll_sketch_matches_independent_python_reference(spark, tmp_path):
    """Third-implementation check for the HyperLogLog sketch: Spark and
    the DuckDB oracle share their constants, so a spec bug in the shared
    formula would pass two-engine parity — this pure-Python reference is
    derived independently from the definition (48-bit md5 prefix, top-6
    bucket, rho = leading zeros of the 42 value bits + 1, register max,
    S_int with empty buckets at 2^43). Runs on seeded random corpora
    plus edge shapes (single doc, repeated text, 1-token docs)."""
    import hashlib
    import random

    from clinicaltransformerrelationextraction_spark.operators.textstats import (
        HLL_EST_NUM,
        HLL_M,
        HLL_MAXR,
        HLL_WBITS,
        q_hll_distinct,
    )

    def py_hll(docs):
        shingles = {}  # lang -> set of bigrams
        for lang, text in docs:
            toks = text.split(" ")
            for i in range(len(toks) - 1):
                shingles.setdefault(lang, set()).add(
                    toks[i] + " " + toks[i + 1]
                )
        out = {}
        for lang, sh in shingles.items():
            regs = {}
            for s in sh:
                h = int(hashlib.md5(s.encode()).hexdigest()[:12], 16)
                bucket = h >> HLL_WBITS
                w = h & ((1 << HLL_WBITS) - 1)
                rho = HLL_MAXR if w == 0 else HLL_MAXR - w.bit_length()
                regs[bucket] = max(regs.get(bucket, 0), rho)
            s_int = sum(1 << (HLL_MAXR - m) for m in regs.values())
            s_int += (HLL_M - len(regs)) * (1 << HLL_MAXR)
            out[lang] = (
                len(regs), s_int, len(sh),
                HLL_EST_NUM / (1_000_000.0 * float(s_int)),
            )
        return out

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(200)]
    docs = [
        ("en", " ".join(rng.choices(vocab, k=rng.randint(2, 60))))
        for _ in range(80)
    ]
    docs += [
        ("de", " ".join(rng.choices(vocab[:30], k=rng.randint(2, 20))))
        for _ in range(40)
    ]
    docs += [("fr", "a b"), ("fr", "a b"), ("xx", "solo")]  # edge shapes
    d = str(tmp_path / "hll")
    spark.createDataFrame(
        [(i, t, lg) for i, (lg, t) in enumerate(docs)],
        "doc_id long, text string, lang string",
    ).write.mode("overwrite").parquet(d + "/documents.parquet")
    got = {
        r.lang: (r.n_buckets_hit, r.s_int, r.n_exact, r.est_distinct)
        for r in q_hll_distinct(spark, d).collect()
    }
    want = py_hll(docs)
    assert set(got) == set(want)
    for lang in want:
        assert got[lang][:3] == want[lang][:3], lang
        assert abs(got[lang][3] - want[lang][3]) < 1e-9, lang


def _adj_equals_edgejoin(spark, edges):
    from clinicaltransformerrelationextraction_spark.operators.graph import (
        integer_pagerank_adj,
    )
    from tests.catalyst_twins import integer_pagerank

    a = sorted((r.entity, r.rank) for r in integer_pagerank(edges).collect())
    b = sorted(
        (r.entity, r.rank) for r in integer_pagerank_adj(edges).collect()
    )
    assert a == b
    # hub_split=2 forces EVERY out-list with >2 entries through the
    # chunked-adjacency path (multiple rows per src, each carrying the
    # full outdeg) — splitting must be purely physical
    c = sorted(
        (r.entity, r.rank)
        for r in integer_pagerank_adj(edges, hub_split=2).collect()
    )
    assert a == c
    assert a  # nonvacuous
    assert len({rank for _, rank in a}) > 1  # ranks actually differentiated


def test_adjacency_pagerank_matches_edgejoin_synthetic(spark):
    """integer_pagerank_adj (adjacency-list per-round plan, the r6
    default candidate) must be bit-identical to the edge-join twin
    power iteration — same integral-div contributions, same dangling
    handling — on adversarial shapes: a hub (collect_list skew shape), a
    cycle, a DAG chain, nodes with no out-edges (dangling), and a seeded
    random digraph with parallel-free distinct edges."""
    import random

    edges = []
    edges += [(1, v) for v in range(2, 40)]              # out-hub
    edges += [(v, 1) for v in range(40, 80)]             # in-hub (dangling srcs)
    edges += [(100 + i, 100 + (i + 1) % 10) for i in range(10)]  # cycle
    edges += [(200 + i, 201 + i) for i in range(20)]     # chain -> dangling tail
    rng = random.Random(7)
    nodes = list(range(300, 400))
    edges += [tuple(rng.sample(nodes, 2)) for _ in range(300)]
    df = spark.createDataFrame(edges, "src long, dst long").distinct()
    _adj_equals_edgejoin(spark, df)


def test_adjacency_pagerank_matches_edgejoin_real(spark):
    from pyspark.sql import functions as F  # noqa: F811

    from clinicaltransformerrelationextraction_spark.operators import graph

    edges = (
        graph._linked(spark, SF_SMOKE)
        .select(
            F.col("subj_canonical").alias("src"),
            F.col("obj_canonical").alias("dst"),
        )
        .distinct()
    )
    _adj_equals_edgejoin(spark, edges)


def test_chunked_adjacency_structure(spark):
    """The hub-split build's structural contract: ceil(outdeg/hub_split)
    rows per src, no array longer than hub_split, full outdeg on every
    chunk row, and the exploded union reproduces the edge set exactly."""
    import math

    from clinicaltransformerrelationextraction_spark.operators.graph import (
        chunked_adjacency,
    )

    edges = [(1, v) for v in range(100, 137)]        # 37-out hub
    edges += [(2, 200), (2, 201)]                    # exactly one chunk at k=2
    edges += [(3, 300)]                              # under the chunk size
    df = spark.createDataFrame(edges, "src long, dst long")
    adj = chunked_adjacency(df, 4).collect()
    per_src: dict[int, list] = {}
    for r in adj:
        per_src.setdefault(r.src, []).append(r)
    outdeg = {1: 37, 2: 2, 3: 1}
    rebuilt = set()
    for src, rows in per_src.items():
        assert len(rows) == math.ceil(outdeg[src] / 4), (src, rows)
        for r in rows:
            assert len(r.dsts) <= 4
            assert r.outdeg == outdeg[src]  # FULL outdeg on every chunk
            rebuilt |= {(src, d) for d in r.dsts}
    assert rebuilt == set(edges)
    import pytest

    with pytest.raises(ValueError, match="hub_split"):
        chunked_adjacency(df, 0)
