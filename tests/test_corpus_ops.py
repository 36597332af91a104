"""Unit pins for the corpus-prep ops: the connected-components operator
on known graphs (including the long-chain case that breaks naive label
propagation), and invariants the SQL oracles don't express."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from nemscraper_spark.operators.components import connected_components
from nemscraper_spark.queries import REGISTRY


def _labels(df):
    return {r.node: r.component for r in df.collect()}


def test_components_basic(spark):
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 3), (7, 7)], "u long, v long"
    )
    got = _labels(connected_components(e))
    # self-loop (7,7) is dropped — 7 never appears in a real edge
    assert got == {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 6: 5}


def test_components_long_chain(spark):
    """A 60-hop chain converges to one component well inside max_rounds
    — the O(log n) property of alternating star contraction (naive
    propagation would need 60 rounds)."""
    n = 60
    e = spark.createDataFrame([(i, i + 1) for i in range(n)], "u long, v long")
    got = _labels(connected_components(e, max_rounds=10))
    assert set(got.values()) == {0}
    assert len(got) == n + 1


def test_components_duplicate_and_reversed_edges(spark):
    e = spark.createDataFrame(
        [(2, 1), (1, 2), (2, 1), (3, 4)], "u long, v long"
    )
    got = _labels(connected_components(e))
    assert got == {1: 1, 2: 1, 3: 3, 4: 3}


def test_cluster_components_match_pair_graph(spark, sf_dir):
    """Every doc in a >=0.5-Jaccard pair lands in a component with its
    partner; component id is the min doc_id of the group."""
    pairs = {
        (r.doc_a, r.doc_b)
        for r in REGISTRY["ngram_jaccard_pairs"].fn(spark, sf_dir)
        .filter(F.col("jaccard") >= 0.5)
        .collect()
    }
    comp = {
        r.doc_id: r.component
        for r in REGISTRY["dedup_cluster_components"].fn(spark, sf_dir).collect()
    }
    for a, b in pairs:
        assert comp[a] == comp[b]
    assert all(c <= d for d, c in comp.items())


def test_split_shares_sum_to_one(spark, sf_dir):
    rows = REGISTRY["train_test_split_hash"].fn(spark, sf_dir).collect()
    by_source = {}
    for r in rows:
        by_source.setdefault(r.source, 0.0)
        by_source[r.source] += r.share
        assert r.split in ("train", "val", "test")
    for s, tot in by_source.items():
        assert abs(tot - 1.0) < 1e-9, f"{s}: shares sum to {tot}"


def test_split_is_stable_under_repartition(spark, sf_dir):
    """The hash split must not depend on physical layout."""
    a = {
        (r.source, r.split): r.n_docs
        for r in REGISTRY["train_test_split_hash"].fn(spark, sf_dir).collect()
    }
    from nemscraper_spark.queries.common import load_table

    # same logic, deliberately different partitioning
    d = load_table(spark, sf_dir, "documents").repartition(7, "doc_id")
    hexpos = lambda i: (  # noqa: E731
        F.expr(
            f"locate(substring(md5(CAST(doc_id AS STRING)), {i}, 1),"
            " '0123456789abcdef')"
        )
        - 1
    )
    bucket = hexpos(1) * 16 + hexpos(2)
    split = F.when(bucket < 204, "train").when(bucket < 230, "val").otherwise("test")
    b = {
        (r.source, r.split): r.n
        for r in d.select("source", split.alias("split"))
        .groupBy("source", "split")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert a == b


def test_tfidf_rank_is_dense_per_doc(spark, sf_dir):
    rows = REGISTRY["tfidf_top_terms"].fn(spark, sf_dir).collect()
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, []).append(r.rk)
    for doc, rks in per_doc.items():
        assert sorted(rks) == list(range(1, len(rks) + 1))
        assert len(rks) <= 3


def _docs_tokens(spark, sf_dir):
    from nemscraper_spark.queries.common import load_table

    return {
        r.doc_id: (r.source, r.text.split(" "))
        for r in load_table(spark, sf_dir, "documents").collect()
    }


def _bucket(doc_id):
    import hashlib

    h = hashlib.md5(str(doc_id).encode()).hexdigest()
    return int(h[0], 16) * 16 + int(h[1], 16)


def test_decontaminate_flags_exactly_overlapping_train_docs(spark, sf_dir):
    """Recompute the 4-gram overlap scan sequentially: the flagged set
    and per-doc hit counts must match exactly."""
    docs = _docs_tokens(spark, sf_dir)

    def grams(ws, n=4):
        return {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}

    test_g = set()
    for d, (_, ws) in docs.items():
        if _bucket(d) >= 230:
            test_g |= grams(ws)
    expected = {}
    for d, (_, ws) in docs.items():
        if _bucket(d) < 204:
            hits = len(grams(ws) & test_g)
            if hits:
                expected[d] = hits
    got = {
        r.doc_id: r.n_hits
        for r in REGISTRY["decontaminate_train_ngrams"].fn(spark, sf_dir).collect()
    }
    assert got == expected
    assert expected, "fixture produced no contamination — test is vacuous"


def test_sequence_packing_is_a_per_source_prefix_sum(spark, sf_dir):
    """start positions reconstruct the md5-ordered concatenation of each
    source shard: contiguous, gap-free, offset < seqlen."""
    import hashlib

    rows = REGISTRY["sequence_packing"].fn(spark, sf_dir).collect()
    by_source = {}
    for r in rows:
        assert 0 <= r.tok_offset < 256
        by_source.setdefault(r.source, []).append(r)
    docs = _docs_tokens(spark, sf_dir)
    for src, rs in by_source.items():
        rs.sort(key=lambda r: (hashlib.md5(str(r.doc_id).encode()).hexdigest(), r.doc_id))
        cum = 0
        for r in rs:
            assert r.seq_id * 256 + r.tok_offset == cum, (src, r.doc_id)
            assert r.n_tokens == len(docs[r.doc_id][1])
            cum += r.n_tokens


def test_repetition_score_bounds_and_bigram_conservation(spark, sf_dir):
    docs = _docs_tokens(spark, sf_dir)
    rows = REGISTRY["doc_repetition_score"].fn(spark, sf_dir).collect()
    seen = set()
    for r in rows:
        seen.add(r.doc_id)
        assert r.n_bigrams == len(docs[r.doc_id][1]) - 1
        assert 1 <= r.n_distinct <= r.n_bigrams
        assert 0.0 <= r.rep_ratio < 1.0
        assert abs(r.rep_ratio - (1.0 - r.n_distinct / r.n_bigrams)) < 1e-12
    assert seen == {d for d, (_, ws) in docs.items() if len(ws) >= 2}


# ---------------------------------------------------------- property --

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_edges_strategy = st.lists(
    st.tuples(st.integers(0, 40), st.integers(0, 40)),
    min_size=0,
    max_size=60,
)


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        if u == v:
            continue
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    nodes = {n for e in edges for n in e if e[0] != e[1]}
    return {n: find(n) for n in nodes}


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=_edges_strategy)
def test_components_match_union_find(spark, edges):
    """Alternating-star CC agrees with a sequential union-find (with
    min-id canonical labels) on arbitrary graphs — cycles, self-loops,
    duplicates, disconnected singleton edges."""
    expected = _union_find(edges)
    if not edges:
        return
    e = spark.createDataFrame(edges, "u long, v long")
    got = _labels(connected_components(e))
    # union-find labels are root ids; canonicalize both to min-of-component
    def canon(lab):
        comp = {}
        for n, c in lab.items():
            comp.setdefault(c, []).append(n)
        return {n: min(members) for c, members in comp.items() for n in members}

    assert canon(got) == canon(expected)


def _seeded_graph(rng, i):
    """Graph i of the seeded family: sizes 10-300, every third a
    shuffled chain (the long-diameter case), the rest random edges;
    every graph gains reversed copies, exact duplicates and a
    self-loop."""
    n = rng.randint(10, 300)
    if i % 3 == 0:
        perm = list(range(n))
        rng.shuffle(perm)
        edges = [(perm[j], perm[j + 1]) for j in range(n - 1)]
    else:
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randint(1, 2 * n))
        ]
    edges += [(v, u) for u, v in rng.sample(edges, min(5, len(edges)))]
    edges += edges[:3] + [(n // 2, n // 2)]
    return edges


def test_components_equal_union_find_on_seeded_graphs(spark):
    """Star-forest stopping gives exactly the union-find labelling
    (component = min node id, not just the same partition) on seeded
    random graphs and shuffled chains with duplicate, reversed and
    self-loop edges."""
    rng = random.Random(20261017)
    for i in range(12):
        edges = _seeded_graph(rng, i)
        e = spark.createDataFrame(edges, "u long, v long")
        assert _labels(connected_components(e)) == _union_find(edges), i


def test_components_star_input_runs_one_round(spark):
    """A graph that is already a star stops after the round that finds
    it: no confirming round is run."""
    e = spark.createDataFrame([(2, 1), (3, 1), (4, 1)], "u long, v long")
    stats: dict = {}
    got = _labels(connected_components(e, stats=stats))
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}
    assert stats["rounds"] == 1
    assert stats["edges"] == [3]


def test_components_node_between_two_centers_is_not_converged(spark):
    """The path 0-2-3-5-1 contracts in round 1 to (2,0) (2,1) (3,0)
    (5,1): no node is both source and target, but node 2 points at two
    centers. Stopping there would label 1 and 5 with 1; the out-degree
    condition forces more rounds."""
    e = spark.createDataFrame([(0, 2), (1, 5), (3, 2), (3, 5)], "u long, v long")
    stats: dict = {}
    got = _labels(connected_components(e, stats=stats))
    assert got == {n: 0 for n in (0, 1, 2, 3, 5)}
    assert stats["edges"][0] == 4 and stats["rounds"] > 1


def test_components_round_cap_raises(spark):
    """Reaching max_rounds before a star forest is an error, never a
    partial labelling (a 60-node chain needs more than 2 rounds)."""
    n = 60
    e = spark.createDataFrame([(i, i + 1) for i in range(n)], "u long, v long")
    with pytest.raises(RuntimeError, match="no star forest after 2 rounds"):
        connected_components(e, max_rounds=2)


def test_component_queries_leave_session_conf_unchanged(spark, sf_dir):
    """Every query that calls the operator leaves the caller's session
    conf as it found it, trunk builds included (persist_trunk_adaptive
    toggles canChangeCachedPlanOutputPartitioning around the build)."""
    from nemscraper_spark.queries import trunk_cache as tc

    tc.clear_trunk_caches()
    try:
        for name in (
            "dedup_cluster_components",
            "dedup_keep_canonical",
            "dedup_groups_lsh",
            "dedup_groups_lsh_md5",
            "semantic_dedup_keep_list",
        ):
            before = dict(spark.conf.getAll)
            REGISTRY[name].fn(spark, sf_dir).collect()
            assert dict(spark.conf.getAll) == before, name
    finally:
        tc.clear_trunk_caches()


def test_redaction_counts_and_no_surviving_terms(spark, sf_dir):
    docs = _docs_tokens(spark, sf_dir)
    rows = REGISTRY["redact_denylist_terms"].fn(spark, sf_dir).collect()
    deny = {"slow", "big"}
    expected = {
        d: sum(1 for t in ws if t in deny)
        for d, (_, ws) in docs.items()
        if any(t in deny for t in ws)
    }
    assert {r.doc_id: r.n_redacted for r in rows} == expected
    for r in rows:
        toks = r.redacted.split(" ")
        assert not (set(toks) & deny)
        assert toks.count("[REDACTED]") == r.n_redacted


def test_mixture_resample_is_deterministic_hash_membership(spark, sf_dir):
    docs = _docs_tokens(spark, sf_dir)
    got = {
        r.doc_id: r.keep_rate
        for r in REGISTRY["mixture_resample_weighted"].fn(spark, sf_dir).collect()
    }
    expected = {}
    for d, (src, _) in docs.items():
        r = (int(src[3:]) % 4) + 1
        if _bucket(d) < 64 * r:
            expected[d] = r / 4.0
    assert got == expected
    assert len(set(expected.values())) > 1, "fixture exercises a single rate"


def test_mixture_upsample_copies_match_fractional_weights(spark, sf_dir):
    docs = _docs_tokens(spark, sf_dir)
    rows = REGISTRY["mixture_upsample_epochs"].fn(spark, sf_dir).collect()
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, []).append(r.epoch)
    assert set(per_doc) == set(docs)
    for d, (src, _) in docs.items():
        m5 = int(src[3:]) % 5
        copies = 1 + m5 // 2 + (1 if m5 % 2 == 1 and _bucket(d) < 128 else 0)
        assert sorted(per_doc[d]) == list(range(copies)), (d, src)


def test_dup_passage_spans_match_sequential_interval_union(spark, sf_dir):
    """Recompute ExactSubstr spans sequentially (gram counts -> hit
    positions -> interval union) and require exact equality."""
    docs = _docs_tokens(spark, sf_dir)
    from collections import Counter

    L = 6
    counts = Counter()
    for _, (_, ws) in sorted(docs.items()):
        for i in range(len(ws) - L + 1):
            counts[" ".join(ws[i : i + L])] += 1
    expected = {}
    for d, (_, ws) in docs.items():
        hits = [
            i
            for i in range(len(ws) - L + 1)
            if counts[" ".join(ws[i : i + L])] >= 2
        ]
        spans = []
        for p in hits:
            if spans and p <= spans[-1][1]:
                spans[-1] = (spans[-1][0], max(spans[-1][1], p + L))
            else:
                spans.append((p, p + L))
        for sid, (s, e) in enumerate(spans, start=1):
            expected[(d, sid)] = (s, e)
    got = {
        (r.doc_id, r.span_id): (r.span_start, r.span_end)
        for r in REGISTRY["dup_passage_spans"].fn(spark, sf_dir).collect()
    }
    assert got == expected
    assert expected, "fixture produced no duplicated passages — vacuous"


def test_cut_spans_removes_exactly_covered_tokens(spark, sf_dir):
    """Sequential recompute: tokens covered by any duplicated 6-gram
    window are dropped, survivors keep their order; counts conserve."""
    docs = _docs_tokens(spark, sf_dir)
    from collections import Counter

    L = 6
    counts = Counter()
    for _, (_, ws) in sorted(docs.items()):
        for i in range(len(ws) - L + 1):
            counts[" ".join(ws[i : i + L])] += 1
    expected = {}
    for d, (_, ws) in docs.items():
        covered = set()
        for i in range(len(ws) - L + 1):
            if counts[" ".join(ws[i : i + L])] >= 2:
                covered.update(range(i, i + L))
        kept = [t for i, t in enumerate(ws) if i not in covered]
        if kept:
            expected[d] = (" ".join(kept), len(kept), len(ws) - len(kept))
    got = {
        r.doc_id: (r.clean_text, r.kept_tokens, r.dropped_tokens)
        for r in REGISTRY["dedup_cut_spans"].fn(spark, sf_dir).collect()
    }
    assert got == expected
    assert any(v[2] > 0 for v in expected.values()), "nothing was cut — vacuous"


def test_keep_canonical_is_corpus_minus_nonmin_group_members(spark, sf_dir):
    """Survivors = every unclustered doc + exactly the min-id member of
    each duplicate group (cross-checked against the CC query)."""
    comp_rows = REGISTRY["dedup_cluster_components"].fn(spark, sf_dir).collect()
    clustered = {r.doc_id: r.component for r in comp_rows}
    docs = set(_docs_tokens(spark, sf_dir))
    expected = {
        d: ("canonical" if d in clustered else "singleton")
        for d in docs
        if d not in clustered or clustered[d] == d
    }
    got = {
        r.doc_id: r.why
        for r in REGISTRY["dedup_keep_canonical"].fn(spark, sf_dir).collect()
    }
    assert got == expected
    assert "canonical" in got.values() and "singleton" in got.values()


_hits_strategy = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 30)),  # (doc_id, hit pos)
    min_size=1,
    max_size=40,
    unique=True,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(hits=_hits_strategy)
def test_span_interval_union_windows_match_sequential(spark, hits):
    """The two-window interval-union (running-max end marks new spans,
    running sum numbers them) used by dup_passage_spans must agree with
    a sequential merge on arbitrary hit-position sets — overlapping,
    adjacent, duplicated-gap and single-hit layouts."""
    from pyspark.sql import Window as W

    L = 6
    df = spark.createDataFrame(hits, "doc_id long, pos long")
    w_ord = W.partitionBy("doc_id").orderBy("pos")
    run_end = F.max(F.col("pos") + L).over(
        w_ord.rowsBetween(W.unboundedPreceding, -1)
    )
    flagged = df.withColumn(
        "is_new", F.when(F.col("pos") > F.coalesce(run_end, F.lit(-1)), 1).otherwise(0)
    )
    spans = flagged.withColumn(
        "span_id", F.sum("is_new").over(w_ord.rowsBetween(W.unboundedPreceding, 0))
    )
    got = {
        (r.doc_id, r.span_id): (r.span_start, r.span_end)
        for r in spans.groupBy("doc_id", "span_id")
        .agg(F.min("pos").alias("span_start"), F.max(F.col("pos") + L).alias("span_end"))
        .collect()
    }
    expected = {}
    by_doc = {}
    for d, p in hits:
        by_doc.setdefault(d, []).append(p)
    for d, ps in by_doc.items():
        merged = []
        for p in sorted(ps):
            if merged and p <= merged[-1][1]:
                merged[-1] = (merged[-1][0], max(merged[-1][1], p + L))
            else:
                merged.append((p, p + L))
        for sid, (s, e) in enumerate(merged, start=1):
            expected[(d, sid)] = (s, e)
    assert got == expected


def test_lsh_groups_refine_exact_groups(spark, sf_dir):
    """LSH candidates are a subset of all pairs and the verify applies
    the same exact-Jaccard threshold, so every dedup_groups_lsh group
    must sit INSIDE one dedup_cluster_components group (refinement) —
    LSH may miss edges (band recall < 1) but can never merge docs the
    exact edge set keeps apart."""
    exact = {
        r.doc_id: r.component
        for r in REGISTRY["dedup_cluster_components"].fn(spark, sf_dir).collect()
    }
    lsh_groups: dict[int, set[int]] = {}
    for r in REGISTRY["dedup_groups_lsh"].fn(spark, sf_dir).collect():
        lsh_groups.setdefault(r.component, set()).add(r.doc_id)
    assert lsh_groups, "LSH path found no duplicate groups at test scale"
    for members in lsh_groups.values():
        # every member must be clustered by the exact path too...
        assert members <= exact.keys()
        # ...and into a single exact component
        assert len({exact[m] for m in members}) == 1


def test_skyline_adversarial_ties_and_chains(spark, tmp_path):
    """Pareto-front edge cases the sf corpus can't guarantee: duplicate
    frontier points (neither dominates — BOTH stay), a point dominated
    only via a strictly-better single axis (equal on the other), and a
    strictly-dominated chain.  Expected set from an independent
    quadratic dominance check in pure Python."""
    import itertools

    import pandas as pd

    # (doc_id, text) -> metrics are (distinct tokens DESC, total ASC)
    docs = [
        (1, "a b c"),          # 3 distinct / 3 total  (frontier)
        (2, "a b c"),          # duplicate point — must ALSO survive
        (3, "a b c a"),        # 3/4: dominated by 1 (equal distinct, more total)
        (4, "a b c d e a"),    # 5/6 (frontier: more distinct, more total)
        (5, "a a a a a a a"),  # 1/7: dominated
        (6, "z"),              # 1/1: frontier (fewest total)
    ]
    pdf = pd.DataFrame(
        {
            "doc_id": [d for d, _ in docs],
            "text": [t for _, t in docs],
            "lang": "en",
            "source": "t",
            "n_chars": [len(t) for _, t in docs],
        }
    )
    pdf.to_parquet(tmp_path / "documents.parquet")

    def metrics(text):
        w = text.split(" ")
        return (len(set(w)), len(w))

    pts = {d: metrics(t) for d, t in docs}

    def dominated(a, b):  # does b dominate a?
        (da, ta), (db, tb) = pts[a], pts[b]
        return db >= da and tb <= ta and (db > da or tb < ta)

    expected = {
        d for d in pts if not any(dominated(d, o) for o in pts if o != d)
    }

    from nemscraper_spark.queries import REGISTRY

    got = {
        r.doc_id
        for r in REGISTRY["doc_skyline_pareto"].fn(spark, str(tmp_path)).collect()
    }
    assert got == expected
    assert {1, 2} <= expected  # duplicate frontier points both kept
    assert 3 not in expected  # single-axis strict domination enforced


def test_dup_components_trunk_is_memoized_per_session(spark, sf_dir):
    """The near-dup component labelling shared by
    dedup_cluster_components and dedup_keep_canonical is contracted
    once per (session, sf_dir) and persisted in trunk_cache._TRUNKS
    under its family key; two spellings of the directory share ONE
    trunk (norm_dir); dropping the entry and rebuilding yields the same
    labelling."""
    from nemscraper_spark.queries import corpus_ops as co
    from nemscraper_spark.queries import trunk_cache as tc

    app = spark.sparkContext.applicationId
    key = ("dup_components", app, tc.norm_dir(sf_dir))
    saved = tc._TRUNKS.pop(key, None)
    try:
        e1 = co._dup_components(spark, sf_dir)
        assert key in tc._TRUNKS
        e2 = co._dup_components(spark, sf_dir)
        assert e1 is e2  # second consumer reuses the persisted trunk
        # r10 ADVICE: a trailing-slash spelling is the SAME corpus —
        # no duplicate trunk is built or pinned
        e2b = co._dup_components(spark, str(sf_dir) + "/")
        assert e2b is e1
        rows = sorted(map(tuple, e1.collect()))
        assert rows, "degenerate corpus: no dup components at sf0.001"
        # drop + unpersist; a rebuild matches exactly
        tc._TRUNKS.pop(key)
        e1.unpersist()
        e3 = co._dup_components(spark, sf_dir)
        assert e3 is not e1
        assert sorted(map(tuple, e3.collect())) == rows
    finally:
        hit = tc._TRUNKS.pop(key, None)
        if hit is not None:
            hit.unpersist()
        if saved is not None:
            tc._TRUNKS[key] = saved
