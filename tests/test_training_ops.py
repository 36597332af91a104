"""Cross-checks between the scalable training-data ops and their exact
baselines (the checks SQL oracles can't express)."""

from __future__ import annotations

from nemscraper_spark.queries import REGISTRY


def _pairs(df):
    return {(r.doc_a, r.doc_b) for r in df.collect()}


def test_minhash_candidates_subset_of_exact(spark, sf_dir):
    """Every LSH-surviving pair must appear in the exact-Jaccard pair
    set with the same threshold (LSH can miss pairs — never invent)."""
    exact = _pairs(REGISTRY["ngram_jaccard_pairs"].fn(spark, sf_dir))
    lsh = _pairs(REGISTRY["minhash_lsh_pairs"].fn(spark, sf_dir))
    assert lsh <= exact
    if exact:  # recall report — band geometry should catch most
        recall = len(lsh) / len(exact)
        assert recall >= 0.5, f"LSH recall collapsed: {recall:.2f}"


def test_xxhash_lsh_library_default_recall(spark, sf_dir):
    """The xxhash64 parameterization (library default
    lsh_verified_pairs — ~4x cheaper 8-byte keys, but not portable to
    the SQL oracle, so the REGISTERED minhash_lsh_pairs entry is the
    md5 seeding) must keep the same subset + recall contract as the
    hash-gated primary."""
    from nemscraper_spark.queries.common import fan_out, load_table
    from nemscraper_spark.queries.training_data import lsh_verified_pairs

    d = fan_out(load_table(spark, sf_dir, "documents"))
    exact = _pairs(REGISTRY["ngram_jaccard_pairs"].fn(spark, sf_dir))
    lsh = _pairs(lsh_verified_pairs(d, threshold=0.2))
    assert lsh <= exact
    if exact:
        recall = len(lsh) / len(exact)
        assert recall >= 0.5, f"xxhash LSH recall collapsed: {recall:.2f}"


def test_simhash_kernel_vectorized_bit_identical(spark, sf_dir):
    """The r12 vectorized SimHash kernel (distinct-word memo, numpy
    digest unpack, segmented reduceat vote sum) must produce
    BIT-IDENTICAL fingerprints to the r11 per-doc/per-word/per-digit
    Python loop — the votes are the same integer sums in a different
    order, so any drift is a kernel bug, not FP noise."""
    import hashlib

    from nemscraper_spark.queries.common import load_table
    from nemscraper_spark.queries.corpus_health import _simhash60_fingerprints

    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter("doc_id < 200")
    )
    got = {r.doc_id: r.simhash for r in _simhash60_fingerprints(d).collect()}
    texts = {
        r.doc_id: r.text for r in d.filter("text is not null").collect()
    }
    assert set(got) == set(texts) and texts

    for doc_id, text in texts.items():
        votes = [0] * 60
        for w in set(text.split(" ")):
            h = hashlib.md5(w.encode()).hexdigest()
            for p in range(15):
                dig = int(h[p], 16)
                for j in range(4):
                    votes[p * 4 + j] += 1 if (dig >> j) & 1 else -1
        sh = 0
        for k in range(60):
            if votes[k] > 0:
                sh |= 1 << k
        assert got[doc_id] == sh, f"fingerprint drift at doc {doc_id}"


def _topk(df):
    out = {}
    for r in df.collect():
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def test_ann_recall_vs_bruteforce(spark, sf_dir):
    exact = _topk(REGISTRY["cosine_topk_bruteforce"].fn(spark, sf_dir))
    for name, floor in (
        ("ann_lsh_cosine", 0.2),
        ("ann_ivf_cosine", 0.2),
        ("ann_pq_adc", 0.2),
        ("ann_ivfpq_adc", 0.2),
    ):
        approx = _topk(REGISTRY[name].fn(spark, sf_dir))
        hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
        total = sum(len(v) for v in exact.values())
        assert hits / total >= floor, f"{name} recall {hits/total:.2f}"


def test_simhash_similar_docs_close(spark, sf_dir):
    """Near-dup pairs (by exact Jaccard) must have small simhash
    hamming distance vs the corpus median — the property that makes
    simhash banding work."""
    sim = {r.doc_id: r.simhash for r in REGISTRY["simhash_fingerprint"].fn(spark, sf_dir).collect()}
    pairs = _pairs(REGISTRY["ngram_jaccard_pairs"].fn(spark, sf_dir))
    if not pairs:
        return

    def ham(a, b):
        return bin(a ^ b).count("1")

    import itertools
    import statistics

    near = [ham(sim[a], sim[b]) for a, b in pairs]
    ids = sorted(sim)[:60]
    background = [
        ham(sim[a], sim[b]) for a, b in itertools.combinations(ids, 2)
    ]
    assert statistics.mean(near) < statistics.mean(background)


def test_int8_quantization_roundtrip_error_bound(spark, sf_dir):
    """Dequantized values must sit within half a quantization step of
    the original: |q*amax/127 - x| <= amax/254, q in [-127, 127], and
    amax must equal the vector's true max-abs."""
    from nemscraper_spark.queries.common import load_table

    orig = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    rows = REGISTRY["embedding_quantize_int8"].fn(spark, sf_dir).collect()
    seen = set()
    for r in rows:
        seen.add((r.vec_id, r.dim))
        x = orig[r.vec_id][r.dim]
        assert -127 <= r.q <= 127
        assert abs(r.amax - max(abs(v) for v in orig[r.vec_id])) == 0.0
        if r.amax:
            assert abs(r.q * r.amax / 127.0 - x) <= r.amax / 254.0 + 1e-12
    assert len(seen) == sum(len(v) for v in orig.values())


def test_ann_md5_twins_recall_vs_bruteforce(spark, sf_dir):
    """The integer-grid md5 twins must preserve the ANN property the
    production float paths have: their top-5s overlap the exact float
    brute force (the grid quantization + deterministic sampling may
    shift rankings, but not collapse recall)."""
    exact = _topk(REGISTRY["cosine_topk_bruteforce"].fn(spark, sf_dir))
    for name, floor in (
        ("ann_lsh_cosine_md5", 0.2),
        ("ann_ivf_cosine_md5", 0.2),
        ("ann_pq_adc_md5", 0.2),
        ("ann_ivfpq_adc_md5", 0.2),
    ):
        approx = _topk(REGISTRY[name].fn(spark, sf_dir))
        hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
        total = sum(len(v) for v in exact.values())
        assert hits / total >= floor, f"{name} recall {hits/total:.2f}"


def test_sketch_profile_exact_brackets_approx(spark, sf_dir):
    """The exact profile twin must agree with the sketch profile within
    the sketches' error bounds (2% HLL rsd, loose quantile band)."""
    exact = {
        r.event_type: r for r in REGISTRY["sketch_profile_exact"].fn(spark, sf_dir).collect()
    }
    approx = {
        r.event_type: r for r in REGISTRY["approx_sketches"].fn(spark, sf_dir).collect()
    }
    assert set(exact) == set(approx)
    for et, ex in exact.items():
        ap = approx[et]
        assert ap.n == ex.n
        assert abs(ap.approx_users - ex.n_users) <= max(5, 0.1 * ex.n_users)
        # percentile_approx with accuracy 10000 is near-exact here
        assert abs(ap.q50 - ex.p50) <= 0.05 * max(1.0, abs(ex.p50))


# ---------------------------------------------------------- PPJoin --


def test_ppjoin_completeness_adversarial(spark, tmp_path):
    """Prefix-filter losslessness on a corpus built to stress the
    theorem's edge cases: all-tied document frequencies (every shingle
    df=2, so ordering falls entirely to the md5 tie-break), minimal
    3-word docs (prefix length 1), equal-size pairs exactly AT the
    threshold, and pairs just below it.  Expected pairs come from an
    independent brute-force in pure Python."""
    import itertools

    import pandas as pd

    docs = [
        # J = 2/4 = 0.5: exactly at threshold (must be kept)
        (1, "a b c d e"),            # shingles {abc, bcd, cde}
        (2, "a b c d x"),            # {abc, bcd, cdx} -> inter 2, union 4
        # J = 1/5 < 0.5 with doc 1 (must be pruned or fail verify)
        (3, "a b c q r s t"),
        # identical twins J = 1.0, minimal docs (n=1, prefix len 1)
        (4, "p q r"),
        (5, "p q r"),
        # disjoint
        (6, "u v w x y z"),
        # identical twins with MANY shingles (n=5, prefix len 3,
        # multiple prefix collisions): regression for the positional
        # filter — the overlap bound is valid only at the FIRST common
        # shingle in canonical order; a per-collision min-of-bounds
        # (the bug this case pins) under-bounds via the LAST collision
        # (1 + min(5-3, 5-3) = 3 < alpha = ceil(10/3) = 4) and drops
        # this true J=1.0 pair.
        (7, "h i j k l m n"),
        (8, "h i j k l m n"),
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

    def shingles(text):
        w = text.split(" ")
        return {
            " ".join(w[i : i + 3]) for i in range(len(w) - 2)
        } if len(w) >= 3 else set()

    expected = set()
    for (da, ta), (db, tb) in itertools.combinations(docs, 2):
        sa, sb = shingles(ta), shingles(tb)
        if sa and sb:
            j = len(sa & sb) / len(sa | sb)
            if j >= 0.5:
                expected.add((min(da, db), max(da, db)))

    from nemscraper_spark.queries import REGISTRY

    got = {
        (r.doc_a, r.doc_b)
        for r in REGISTRY["jaccard_ppjoin_pairs"].fn(
            spark, str(tmp_path)
        ).collect()
    }
    assert got == expected
    assert (1, 2) in expected  # the at-threshold pair is really exercised
    assert (7, 8) in expected  # the multi-collision positional case too


def test_ppjoin_prefix_bound_matches_exact_ceil():
    """The SQL integer formula (TP*n + TQ-1) DIV TQ used for BOTH the
    prefix bound and alpha must equal mathematical ceil(TP*n/TQ) for
    every plausible threshold — the float F.ceil(t*n) it replaced
    differs at e.g. t=0.1, n=20 (float says 3, truth is 2), silently
    shortening the prefix and dropping true pairs (ADVICE round 5)."""
    import math
    from fractions import Fraction

    for tp, tq in [(1, 2), (3, 5), (1, 10), (7, 10), (2, 3), (9, 11)]:
        for n in range(1, 200):
            exact = math.ceil(Fraction(tp * n, tq))
            integer_form = (tp * n + tq - 1) // tq
            assert integer_form == exact, (tp, tq, n)
    # the float form really is wrong somewhere (the hazard is live, not
    # hypothetical): t = 9/11, n = 77 -> t*n = 63 exactly, but the
    # float product lands just above 63 and ceils to 64 — a prefix one
    # element SHORT, i.e. silently dropped true pairs.
    assert math.ceil(9 / 11 * 77) == 64
    assert math.ceil(Fraction(9 * 77, 11)) == 63


def test_ppjoin_completeness_non_dyadic_threshold(
    spark, tmp_path, monkeypatch
):
    """Losslessness must survive a NON-dyadic threshold (t = 3/5): the
    round-5 advice observed the float prefix bound was only correct
    because t=0.5 is exactly representable.  Same brute-force oracle
    as the adversarial test, threshold monkeypatched module-wide."""
    import itertools

    import pandas as pd

    import nemscraper_spark.queries.training_data as td

    monkeypatch.setattr(td, "_PPJOIN_T", 0.6)
    monkeypatch.setattr(td, "_PPJOIN_TP", 3)
    monkeypatch.setattr(td, "_PPJOIN_TQ", 5)

    docs = [
        # inter 3 / union 5 = 0.6: exactly AT the non-dyadic threshold
        (1, "a b c d e f"),          # {abc, bcd, cde, def}
        (2, "a b c d e g"),          # {abc, bcd, cde, deg}
        # inter 2 / union 5 = 0.4 vs docs 1 and 2: below, must be pruned
        (3, "a b c d x"),            # {abc, bcd, cdx}
        (4, "p q r s"),              # {pqr, qrs}
        (5, "p q r s"),              # twin, j = 1.0
        (6, "u v w x y z"),          # disjoint filler
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

    def shingles(text):
        w = text.split(" ")
        return {
            " ".join(w[i : i + 3]) for i in range(len(w) - 2)
        } if len(w) >= 3 else set()

    expected = set()
    for (da, ta), (db, tb) in itertools.combinations(docs, 2):
        sa, sb = shingles(ta), shingles(tb)
        if sa and sb:
            j = len(sa & sb) / len(sa | sb)
            if j >= 0.6:
                expected.add((min(da, db), max(da, db)))

    from nemscraper_spark.queries import REGISTRY

    got = {
        (r.doc_a, r.doc_b)
        for r in REGISTRY["jaccard_ppjoin_pairs"].fn(
            spark, str(tmp_path)
        ).collect()
    }
    assert got == expected
    assert (1, 2) in expected  # the exactly-at-0.6 pair is exercised
    assert (4, 5) in expected


def test_verify_matches_collectset_reference(spark, sf_dir_oracle):
    """The shipped equi-join exact-Jaccard verify must be BIT-IDENTICAL
    to the retired collect_set+array_intersect form at both registered
    band geometries (not a single pair, count, or double may move).
    The old form lives on HERE as an inline reference implementation —
    it is correct but materializes one shingle array per doc in an
    aggregation buffer, the 100 TB memory/skew hazard the round-8 swap
    removed (round-7 verdict, "What's wrong" #1)."""
    from pyspark.sql import functions as F

    from nemscraper_spark.queries.common import fan_out, load_table
    from nemscraper_spark.queries.training_data import (
        _md5_band_candidates,
        _shingle_frame,
        lsh_verified_pairs_md5,
    )

    def collectset_reference(d, threshold, n_perm, band_size):
        # the retired form, end to end: semi-join-pruned per-doc
        # shingle SETS attached to each candidate pair, verified with
        # array_intersect
        sh = _shingle_frame(d)
        cand = _md5_band_candidates(sh, n_perm, band_size)
        cand_docs = (
            cand.select(F.col("doc_a").alias("doc_id"))
            .union(cand.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        sets = (
            sh.join(cand_docs, "doc_id", "left_semi")
            .groupBy("doc_id")
            .agg(F.collect_set("shingle").alias("ss"))
        )
        sa = sets.select(
            F.col("doc_id").alias("doc_a"), F.col("ss").alias("sa")
        )
        sb = sets.select(
            F.col("doc_id").alias("doc_b"), F.col("ss").alias("sb")
        )
        pairs = cand.join(sa, "doc_a").join(sb, "doc_b")
        n_common = F.size(F.array_intersect("sa", "sb")).cast("bigint")
        jac = n_common.cast("double") / (
            F.size("sa").cast("bigint")
            + F.size("sb").cast("bigint")
            - n_common
        )
        return pairs.filter(jac >= threshold).select(
            "doc_a",
            "doc_b",
            n_common.alias("n_common"),
            jac.alias("jaccard"),
        )

    d = fan_out(load_table(spark, sf_dir_oracle, "documents"))
    for n_perm, band_size in ((8, 2), (16, 4)):
        ref = sorted(
            collectset_reference(
                d, threshold=0.2, n_perm=n_perm, band_size=band_size
            ).collect()
        )
        got = sorted(
            lsh_verified_pairs_md5(
                d, threshold=0.2, n_perm=n_perm, band_size=band_size
            ).collect()
        )
        assert ref == got, (n_perm, band_size, len(ref), len(got))
        assert len(ref) > 0, "degenerate corpus: no verified pairs"


def test_counted_pairs_cache_provenance(spark, sf_dir_oracle):
    """The counted-pairs memoization is keyed by the caller, who names
    the corpus slice its frame was built from:
    (a) same key + same geometry -> the identical cached object;
    (b) a different geometry is a different key;
    (c) a call with no key BYPASSES the cache entirely — and still
    computes the same rows."""
    import nemscraper_spark.queries.training_data as td
    import nemscraper_spark.queries.trunk_cache as tc
    from nemscraper_spark.queries.common import fan_out, load_table

    d = fan_out(load_table(spark, sf_dir_oracle, "documents"))
    key = tc.session_key(spark, sf_dir_oracle, "documents")
    app = spark.sparkContext.applicationId
    nd = tc.norm_dir(sf_dir_oracle)
    keys = [
        ("counted", app, nd, "documents", 8, 2),
        ("counted", app, nd, "documents", 16, 4),
    ]
    saved = {k: tc._TRUNKS.pop(k, None) for k in keys}
    try:
        a1 = td.lsh_counted_pairs_md5(d, 8, 2, key)
        a2 = td.lsh_counted_pairs_md5(d, 8, 2, key)
        assert a1 is a2  # cache hit on (session, sf_dir, geometry)
        b = td.lsh_counted_pairs_md5(d, 16, 4, key)
        assert b is not a1  # geometry is part of the key
        assert keys[0] in tc._TRUNKS
        assert keys[1] in tc._TRUNKS

        # no key: the same frame is built uncached, no new entry
        n_keys = len(tc._TRUNKS)
        c1 = td.lsh_counted_pairs_md5(d, 8, 2)
        c2 = td.lsh_counted_pairs_md5(d, 8, 2)
        assert c1 is not c2
        assert len(tc._TRUNKS) == n_keys
        assert sorted(map(tuple, c1.collect())) == sorted(
            map(tuple, a1.collect())
        )
    finally:
        for k in keys:
            hit = tc._TRUNKS.pop(k, None)
            if hit is not None:
                hit.unpersist()
            if saved[k] is not None:
                tc._TRUNKS[k] = saved[k]


def test_xxhash_verify_matches_collectset_reference(spark, sf_dir_oracle):
    """The xxhash library-default pipeline's round-9 count-form verify
    must be BIT-IDENTICAL to its retired collect_set+array_intersect
    form (the md5 twin has the same pin in
    test_verify_matches_collectset_reference)."""
    from pyspark.sql import functions as F

    from nemscraper_spark.queries.common import fan_out, load_table
    from nemscraper_spark.queries.training_data import lsh_verified_pairs

    def collectset_reference(d, threshold):
        n_perm, band_size = 16, 4
        sh = (
            d.withColumn("w", F.split("text", " "))
            .filter(F.size("w") >= 3)
            .select(
                "doc_id",
                F.explode(
                    F.expr(
                        "array_distinct(transform(sequence(0, size(w) - 3),"
                        " i -> concat_ws(' ', w[i], w[i+1], w[i+2])))"
                    )
                ).alias("shingle"),
            )
        )
        mins = sh.groupBy("doc_id").agg(
            *[
                F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"h{i}")
                for i in range(n_perm)
            ]
        )
        bands = mins.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.xxhash64(
                                *[
                                    F.col(f"h{b * band_size + j}")
                                    for j in range(band_size)
                                ]
                            ).alias("bucket"),
                        )
                        for b in range(n_perm // band_size)
                    ]
                )
            ).alias("bb"),
        ).select("doc_id", "bb.band", "bb.bucket")
        la = bands.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
        lb = bands.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
        cand = (
            la.join(lb, ["band", "bucket"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
        )
        cand_docs = (
            cand.select(F.col("doc_a").alias("doc_id"))
            .union(cand.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        sets = (
            sh.join(cand_docs, "doc_id", "left_semi")
            .groupBy("doc_id")
            .agg(F.collect_set(F.xxhash64("shingle")).alias("ss"))
        )
        sa = sets.select(
            F.col("doc_id").alias("doc_a"), F.col("ss").alias("sa")
        )
        sb = sets.select(
            F.col("doc_id").alias("doc_b"), F.col("ss").alias("sb")
        )
        n_common = F.size(F.array_intersect("sa", "sb"))
        jac = n_common.cast("double") / (
            F.size("sa") + F.size("sb") - n_common
        )
        return (
            cand.join(sa, "doc_a")
            .join(sb, "doc_b")
            .filter(jac >= threshold)
            .select("doc_a", "doc_b", jac.alias("jaccard"))
        )

    d = fan_out(load_table(spark, sf_dir_oracle, "documents"))
    ref = sorted(map(tuple, collectset_reference(d, 0.2).collect()))
    got = sorted(map(tuple, lsh_verified_pairs(d, 0.2).collect()))
    assert ref == got, (len(ref), len(got))
    assert len(ref) > 0, "degenerate corpus: no verified pairs"


def test_persist_trunk_adaptive_restores_session_conf(spark, sf_dir):
    """The round-9 ADVICE fix: building a cached trunk must not leave
    spark.sql.optimizer.canChangeCachedPlanOutputPartitioning flipped
    session-globally — the conf is set around persist+materialize and
    restored to exactly its prior state (value, or unset)."""
    import nemscraper_spark.queries.trunk_cache as tc
    from pyspark.sql import functions as F

    name = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    prev = spark.conf.get(name, None)
    try:
        # case 1: conf previously unset -> unset again afterwards
        spark.conf.unset(name)
        small = spark.range(10).groupBy((F.col("id") % 3).alias("k")).count()
        out = tc.persist_trunk_adaptive(small)
        assert out.count() == 3
        assert spark.conf.get(name, None) is None
        out.unpersist()
        # case 2: conf previously pinned false -> still false afterwards
        spark.conf.set(name, "false")
        out2 = tc.persist_trunk_adaptive(small.withColumn("z", F.lit(1)))
        assert out2.count() == 3
        assert spark.conf.get(name, None) == "false"
        out2.unpersist()
    finally:
        if prev is None:
            spark.conf.unset(name)
        else:
            spark.conf.set(name, prev)


def test_dedup_groups_reps_slice_uses_derived_tag_cache(spark, sf_dir_oracle):
    """The dedup-groups md5-collapse representatives slice is keyed as
    its own "documents#md5reps" slice, so its counted-pairs trunk
    persists under its own key — distinct from the raw-table key at
    the same geometry — and a repeat build at the same geometry is a
    cache hit, while rows are unchanged vs the uncached (no key)
    build."""
    import nemscraper_spark.queries.training_data as td
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from nemscraper_spark.operators.components import connected_components
    from nemscraper_spark.queries.common import fan_out, load_table
    from nemscraper_spark.queries.corpus_ops import _dedup_groups_md5

    import nemscraper_spark.queries.trunk_cache as tc

    app = spark.sparkContext.applicationId
    rkey = ("counted", app, tc.norm_dir(sf_dir_oracle), "documents#md5reps", 8, 2)
    saved = tc._TRUNKS.pop(rkey, None)
    try:
        got = sorted(
            map(tuple, _dedup_groups_md5(spark, sf_dir_oracle, 8, 2).collect())
        )
        assert rkey in tc._TRUNKS  # trunk registered under the slice key
        trunk = tc._TRUNKS[rkey]
        # rebuild: same session + sf_dir + geometry -> identical object
        _dedup_groups_md5(spark, sf_dir_oracle, 8, 2)
        assert tc._TRUNKS[rkey] is trunk
        # the slice key never collides with the raw-table key
        assert ("counted", app, tc.norm_dir(sf_dir_oracle), "documents", 8, 2) != rkey
        # rows match the bypass path (no key -> cache-less build)
        d = fan_out(load_table(spark, sf_dir_oracle, "documents"))
        mapping = (
            d.select("doc_id", F.md5("text").alias("th"))
            .withColumn(
                "rep", F.min("doc_id").over(W.partitionBy("th"))
            )
            .select("doc_id", "rep")
        )
        reps = mapping.filter(F.col("doc_id") == F.col("rep")).select("doc_id")
        bypass = td.lsh_verified_pairs_md5(
            d.join(reps, "doc_id").select("doc_id", "text"),
            threshold=0.5,
            n_perm=8,
            band_size=2,
        ).select("doc_a", "doc_b")
        star = mapping.filter(F.col("doc_id") != F.col("rep")).select(
            F.col("rep").alias("doc_a"), F.col("doc_id").alias("doc_b")
        )
        comp = connected_components(
            bypass.unionByName(star), "doc_a", "doc_b"
        )
        ref = sorted(
            map(
                tuple,
                comp.select(
                    F.col("node").alias("doc_id"),
                    "component",
                    F.count("*")
                    .over(W.partitionBy("component"))
                    .alias("n_members"),
                ).collect(),
            )
        )
        assert got == ref
    finally:
        hit = tc._TRUNKS.pop(rkey, None)
        if hit is not None and saved is None:
            hit.unpersist()
        if saved is not None:
            tc._TRUNKS[rkey] = saved


def test_clear_hooks_empty_every_trunk_cache(spark, sf_dir):
    """THE rewrite-boundary hook (ONE registry, one hook) must
    unpersist + empty every family at once — persisted trunks, ANN
    grids and training samples alike — and a post-clear rebuild
    yields the same rows.  Teardown clears again so the test leaves
    the registry in a known-empty state rather than pinning freshly
    built trunks for the session."""
    from pyspark import StorageLevel

    import nemscraper_spark.queries.trunk_cache as tc
    import nemscraper_spark.queries.training_data as td
    from nemscraper_spark.queries import REGISTRY

    try:
        # populate the ppjoin + semantic trunks for this sf_dir
        pp_rows = sorted(
            map(tuple, REGISTRY["jaccard_ppjoin_pairs"].fn(spark, sf_dir).collect())
        )
        sem_rows = sorted(
            map(tuple, REGISTRY["semantic_dedup_clusters"].fn(spark, sf_dir).collect())
        )
        app = spark.sparkContext.applicationId
        nd = tc.norm_dir(sf_dir)
        assert ("ppjoin_cand", app, nd, td._PPJOIN_TP, td._PPJOIN_TQ) in tc._TRUNKS
        assert ("sem_pairs", app, nd) in tc._TRUNKS

        # warm an ANN grid and a training sample too: the one hook
        # covers them (same corpus-staleness hazard)
        import nemscraper_spark.queries.ann_twins as at

        grid = at._int_grid(spark, sf_dir)
        at._md5_sample_rows(spark, sf_dir, 8)
        assert ("ann_grid", app, nd, "int") in tc._TRUNKS
        assert ("ann_sample", app, nd, "md5", 8) in tc._TRUNKS
        frames = [v for v in tc._TRUNKS.values() if hasattr(v, "unpersist")]
        assert any(f is grid for f in frames)

        tc.clear_trunk_caches()
        assert not tc._TRUNKS
        assert all(f.storageLevel == StorageLevel.NONE for f in frames)

        # rebuild after clear: identical rows (the hook never corrupts)
        assert pp_rows == sorted(
            map(tuple, REGISTRY["jaccard_ppjoin_pairs"].fn(spark, sf_dir).collect())
        )
        assert sem_rows == sorted(
            map(tuple, REGISTRY["semantic_dedup_clusters"].fn(spark, sf_dir).collect())
        )
    finally:
        tc.clear_trunk_caches()
        assert not tc._TRUNKS


def test_failed_trunk_materialization_leaves_no_orphan(spark):
    """r10 ADVICE: if the eager count() inside persist_trunk_adaptive
    raises, the frame must be unpersisted before the error surfaces
    (else an unreachable persisted plan is pinned for the session)
    and trunk() must register nothing — plus the AQE conf is still
    restored."""
    import pytest
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    import nemscraper_spark.queries.trunk_cache as tc

    name = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    prev = spark.conf.get(name, None)
    bad = spark.range(3).select(
        F.assert_true(F.col("id") < 0).alias("x")  # fails at runtime
    )
    key = (spark.sparkContext.applicationId, "__orphan_test__")
    with pytest.raises(Exception):
        tc.trunk("test_fail", key, lambda: bad)
    assert ("test_fail", *key) not in tc._TRUNKS
    # persist() returned the same frame; the except-path unpersisted it
    assert bad.storageLevel == StorageLevel.NONE
    assert spark.conf.get(name, None) == prev


def test_failed_staging_leaves_no_orphan():
    """Twin of the trunk test above for staged directories: if the
    writer raises, the half-written directory is removed before the
    error surfaces and staged() registers nothing."""
    import os

    import pytest

    import nemscraper_spark.queries.trunk_cache as tc

    made = []

    def write(d):
        made.append(d)
        with open(os.path.join(d, "part-0"), "w") as f:
            f.write("half")
        raise RuntimeError("write failed")

    key = ("__app__", "__orphan_test__")
    with pytest.raises(RuntimeError):
        tc.staged("test_fail", key, write)
    assert len(made) == 1 and not os.path.exists(made[0])
    assert ("test_fail", *key) not in tc._TRUNKS


def test_norm_dir_canonicalizes_spellings(tmp_path):
    """Two spellings of one directory form ONE cache key (r10
    ADVICE): trailing slash, repeated separators, and dot segments
    all collapse to the same canonical absolute path."""
    from nemscraper_spark.queries.trunk_cache import norm_dir

    base = str(tmp_path / "sf0.01")
    assert norm_dir(base + "/") == norm_dir(base)
    assert norm_dir(base + "//") == norm_dir(base)
    assert norm_dir(str(tmp_path) + "/./sf0.01") == norm_dir(base)
    assert norm_dir(str(tmp_path / "x" / ".." / "sf0.01")) == norm_dir(base)
