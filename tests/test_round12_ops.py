"""Round-12 tests: ADVICE-fix pins.

Three low-severity round-11 ADVICE findings were fixed this round;
each gets a test that pins the FIXED behavior (and the Spark semantics
the fix relies on) so it cannot silently regress:

1. `events_chisq_type_dow` — the decimal(38,0) overflow guard now also
   covers the denominator t*r*c (which NULLs on overflow under the
   session's non-ANSI config); the guard must treat a NULL denominator
   as out-of-envelope, taking the raise_error branch instead of
   emitting a silently-NULL term.
2. `SnapshotTable._file_lookup_col` — the literal map fast path now
   uses `try_element_at`, whose NULL-for-missing-key semantics hold
   regardless of `spark.sql.ansi.enabled` (plain `element_at` raises
   MAP_KEY_DOES_NOT_EXIST under ANSI).
3. `pipeline_embedding_backfill` — the norm audit over an EMPTY
   backfill batch is vacuously True (pinned in test_round11_ops.py's
   no-gap test, tightened this round).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hiveberg_spark.session import conf_override


def test_decimal38_product_overflow_nulls_and_guard_rejects(spark):
    """Semantics pin for the chisq denominator guard: a decimal(38,0)
    product that exceeds 38 digits evaluates to NULL under the
    session's non-ANSI config, `isNotNull()` on it is False (not NULL),
    and a `when(guard, value).otherwise(sentinel)` therefore takes the
    `otherwise` branch — the exact shape `events_chisq_type_dow` uses
    to route denominator overflow into raise_error."""
    big = "9" * 20  # 1e20-ish; cubed -> ~1e60 >> decimal(38,0)
    df = spark.range(1).select(
        F.lit(big).cast("decimal(38,0)").alias("t"),
        F.lit(big).cast("decimal(38,0)").alias("r"),
        F.lit(big).cast("decimal(38,0)").alias("c"),
        F.lit(0).cast("decimal(38,0)").alias("x"),
    )
    trc = F.col("t") * F.col("r") * F.col("c")
    x_ok = (
        F.abs(F.col("x")) <= F.lit(9200000000000000000).cast("decimal(38,0)")
    ) & trc.isNotNull()
    row = df.select(
        trc.isNull().alias("overflowed"),
        F.when(x_ok, F.lit("term")).otherwise(F.lit("raise")).alias("branch"),
    ).collect()[0]
    assert row.overflowed is True
    assert row.branch == "raise"


def test_chisq_query_still_matches_inside_envelope(spark, sf_dir):
    """The tightened guard must not perturb in-envelope results: the
    registered query still returns a single finite chi2 row at test SF
    (value parity vs Python is pinned in test_round10_ops.py)."""
    from hiveberg_spark import registry

    registry.load_all()
    r = registry.QUERIES["events_chisq_type_dow"](spark, sf_dir).collect()
    assert len(r) == 1
    assert r[0].chi2 is not None and r[0].chi2 >= 0.0


def test_file_lookup_literal_is_ansi_safe(spark):
    """_file_lookup_col's literal map expression returns NULL for a
    missing file key even under spark.sql.ansi.enabled=true — parity
    with the broadcast left-join fallback from ANY session config
    (round-12 ADVICE: element_at would raise MAP_KEY_DOES_NOT_EXIST)."""
    from hiveberg_spark.sources.snapshot_table import SnapshotTable

    lookup = SnapshotTable._file_lookup_col(
        None, {"a.parquet": 10, "b.parquet": 20, "dropped.parquet": None}
    )
    df = spark.createDataFrame(
        [("a.parquet",), ("missing.parquet",), ("dropped.parquet",)],
        "__hb_file string",
    )
    with conf_override(spark, "spark.sql.ansi.enabled", "true"):
        got = {
            r["__hb_file"]: r.v
            for r in df.select(
                F.col("__hb_file"), lookup.alias("v")
            ).collect()
        }
    assert got == {
        "a.parquet": 10,
        "missing.parquet": None,
        "dropped.parquet": None,
    }


def test_inc_dedup_serve_workload_matches_contract(spark, sf_dir):
    """The bench-pinned serve workload (audits=False, candidate-only
    shingling) must produce EXACTLY the contract's incremental counts —
    the semi-join optimization may never change the answer."""
    from hiveberg_spark import registry
    from hiveberg_spark.operators.dedup import inc_dedup_serve_workload

    registry.load_all()
    w = inc_dedup_serve_workload(spark, sf_dir).collect()[0]
    c = registry.QUERIES["dedup_incremental_snapshot"](spark, sf_dir).collect()[0]
    assert w.n_initial_docs == c.n_initial_docs
    assert w.n_new_docs == c.n_new_docs
    assert w.n_exact_dups_new == c.n_exact_dups_new
    assert w.n_near_pairs_new == c.n_near_pairs_new


def test_inc_dedup_build_bench_is_fresh_each_run(spark, sf_dir):
    """fresh=True must write NEW tables each call (the build tracker
    measures a real build, never a cached no-op) and refresh the serve
    fixture cache to the latest build."""
    from hiveberg_spark.operators.dedup import (
        _INC_DEDUP_FIXTURE,
        _inc_dedup_tables,
    )

    t1 = _inc_dedup_tables(spark, sf_dir, fresh=True)
    locs1 = tuple(t.location for t in t1)
    t2 = _inc_dedup_tables(spark, sf_dir, fresh=True)
    locs2 = tuple(t.location for t in t2)
    assert locs1 != locs2
    assert _INC_DEDUP_FIXTURE[sf_dir] == locs2
    served = tuple(
        t.location for t in _inc_dedup_tables(spark, sf_dir, fresh=False)
    )
    assert served == locs2


def _write_docs(spark, path, rows):
    import os

    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        os.path.join(path, "documents.parquet")
    )


def test_stream_incremental_dedup_planted_corpus(spark, tmp_path):
    """The streaming dedup leg on a planted corpus spanning the three
    doc_id%3 micro-batches:

      ids 0,1     EXACT duplicates across batches 0 and 1 -> one FCFS
                  dup counted when id 1's batch arrives
      ids 2,5     EXACT duplicates across batches 2 and 2... (both %3=2)
                  -> within-batch dup
      ids 3,7     NEAR duplicates (one word changed in a long doc),
                  batches 0 and 1 -> detected in id 7's batch
      ids 4,6,8   unique
    """
    base = " ".join(f"w{i}" for i in range(40))
    rows = [
        (0, "same content across the batch boundary here"),
        (1, "same content across the batch boundary here"),
        (2, "duplicated within one micro batch of documents"),
        (5, "duplicated within one micro batch of documents"),
        (3, base + " tail_a"),
        (7, base + " tail_b"),
        (4, "alpha beta gamma delta epsilon zeta"),
        (6, "one two three four five six seven"),
        (8, "eight nine ten eleven twelve thirteen"),
    ]
    sf_dir = str(tmp_path / "planted_stream_dedup")
    _write_docs(spark, sf_dir, rows)
    from hiveberg_spark import registry

    registry.load_all()
    r = registry.QUERIES["stream_incremental_dedup"](spark, sf_dir).collect()[0]
    assert r.n_docs_streamed == 9
    assert r.n_exact_dups_streamed == 2  # ids 1 and 5
    # exact duplicates are jaccard-1.0 pairs too, so the near tier sees
    # (0,1), (2,5) and the genuinely-near (3,7) — same convention as
    # the n-gram Jaccard oracle
    assert r.n_near_pairs_streamed == 3
    assert r.multi_batch
    assert r.hash_state_matches and r.band_state_matches


def test_image_ahash_planted_separations(spark):
    """The closed-form hamming separations the dedup_image_ahash oracle
    rests on, recomputed in Python over the actual mapInPandas hashes:
    in-group pairwise hamming <= 2, cross-group >= 12."""
    import itertools

    import pandas as pd

    from hiveberg_spark.operators.multimodal import _group_ahash_batches

    out = pd.concat(
        list(_group_ahash_batches(iter([pd.DataFrame({"doc_id": range(64)})])))
    )
    h = dict(zip(out["doc_id"], out["ahash"]))
    assert len(h) == 64

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    for a, b in itertools.combinations(range(64), 2):
        d = ham(h[a], h[b])
        if a // 8 == b // 8:
            assert d <= 2, (a, b, d)
        else:
            assert d >= 12, (a, b, d)


def test_image_ahash_partial_fixture_singletons(spark, tmp_path):
    """A corpus holding only scattered members (one per group) yields
    zero pairs, all-singleton clusters, zero removed — the degenerate
    case the keep-min representative logic must not trip on."""
    from hiveberg_spark import registry

    registry.load_all()
    sf_dir = str(tmp_path / "img_singletons")
    ids = [0, 9, 18, 27]  # groups 0,1,2,3 — one member each
    _write_docs(spark, sf_dir, [(i, f"doc {i}") for i in ids])
    r = registry.QUERIES["dedup_image_ahash"](spark, sf_dir).collect()[0]
    assert r.n_images == 4
    assert r.n_dup_pairs == 0
    assert r.n_clusters == 4
    assert r.keeper_id_sum == sum(ids)
    assert r.n_removed == 0


# -- round-12 second session: audio + video near-dup tiers ---------------------


def _collect_batches(fn, doc_ids):
    """Run a mapInPandas batch function locally over given doc ids."""
    import pandas as pd

    out = list(fn(iter([pd.DataFrame({"doc_id": doc_ids})])))
    return pd.concat(out, ignore_index=True)


def test_audio_fingerprint_equals_planted_bits():
    """The energy-envelope fingerprint must equal the planted bit
    pattern EXACTLY for every clip in the fixture (encode -> RIFF
    decode -> frame RMS -> mean threshold -> signed pack), recomputed
    here in pure Python with no Spark or numpy framing involved."""
    from hiveberg_spark.operators.multimodal import (
        _AUD_DEDUP_CAP,
        _group_audiofp_batches,
    )

    got = _collect_batches(_group_audiofp_batches, list(range(_AUD_DEDUP_CAP)))
    for doc_id, ahash in zip(got["doc_id"], got["ahash"]):
        g, m = int(doc_id) // 10, int(doc_id) % 10
        bits = set(range(10 * g, 10 * g + 8))
        if m:
            bits ^= {(10 * g + 8 + (m - 1)) % 64}
        expect = sum(1 << b for b in bits)
        if expect >= 1 << 63:
            expect -= 1 << 64
        assert int(ahash) == expect, f"doc {doc_id}"


def test_audio_fingerprint_hamming_separations():
    """Planted contract the verify radius rests on: in-group hamming
    <= 2, cross-group >= 14 (strictly above the radius 3)."""
    from hiveberg_spark.operators.multimodal import (
        _AUD_DEDUP_CAP,
        _AUD_HAM_RADIUS,
        _group_audiofp_batches,
    )

    got = _collect_batches(_group_audiofp_batches, list(range(_AUD_DEDUP_CAP)))
    fp = {int(d): int(h) & ((1 << 64) - 1) for d, h in zip(got["doc_id"], got["ahash"])}
    for a in range(_AUD_DEDUP_CAP):
        for b in range(a + 1, _AUD_DEDUP_CAP):
            ham = bin(fp[a] ^ fp[b]).count("1")
            if a // 10 == b // 10:
                assert ham <= _AUD_HAM_RADIUS, (a, b, ham)
            else:
                assert ham >= 14, (a, b, ham)


def test_video_framehash_injective_and_nondegenerate():
    """Frame matching is exactly content matching: over the full
    planted fixture the content->fhash map must be injective, and no
    pattern may be degenerate (popcount 0 or 64 would collapse the
    decoded average-hash to 0, aliasing distinct contents)."""
    from hiveberg_spark.operators.multimodal import (
        _VID_DEDUP_CAP,
        _VID_FRAMES,
        _video_framehash_batches,
    )

    got = _collect_batches(
        _video_framehash_batches, list(range(_VID_DEDUP_CAP))
    )
    content = {}
    for doc_id, i, h in zip(got["doc_id"], got["frame_idx"], got["fhash"]):
        d, i = int(doc_id), int(i)
        g, m = d // 6, d % 6
        c = 1000 * g + i if i < _VID_FRAMES - m else 1000 * g + 100 * m + i
        content.setdefault(c, set()).add(int(h))
    # every content decodes to ONE hash, distinct contents to distinct
    assert all(len(v) == 1 for v in content.values())
    hashes = [next(iter(v)) for v in content.values()]
    assert len(set(hashes)) == len(hashes)
    for h in hashes:
        pc = bin(h & ((1 << 64) - 1)).count("1")
        assert 0 < pc < 64


def test_video_vote_threshold_is_load_bearing(spark, sf_dir):
    """The shared-frame vote must drop the trailing-clip members
    exactly at the boundary: members 0-4 of a group share >= 8 of 12
    frames pairwise (verified), member 5 shares only 7 with member 0
    (not verified) — so n_clusters counts 8 cliques + 8 singletons."""
    from hiveberg_spark import registry

    registry.load_all()
    row = registry.QUERIES["dedup_video_framehash"](spark, sf_dir).collect()[0]
    assert row.n_videos == 48
    assert row.n_dup_pairs == 8 * 10  # C(5,2) per group
    assert row.n_clusters == 16  # 8 cliques + 8 mem-5 singletons
    assert row.keeper_id_sum == sum(6 * g for g in range(8)) + sum(
        6 * g + 5 for g in range(8)
    )
    assert row.n_removed == 32


def test_min_label_components_chain_graph(spark):
    """The shared component kernel on a chain A-B-C plus an isolated
    pair D-E: labels converge to the min id of each component."""
    from hiveberg_spark.operators.dedup import min_label_components

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11)], ["doc_a", "doc_b"]
    )
    got = {
        r.doc_id: r.component
        for r in min_label_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_knn_dedup_exchange_stays_narrow(spark, sf_dir):
    """Perf property pin (PERF.md round-12 second session): the blocked
    kNN candidate distinct must exchange ID rows only — the quantized
    64-long arrays re-attach AFTER the dedup. If someone reorders the
    pipeline so the pair-keyed Exchange carries qva/qvb again, this
    fails."""
    import re

    from hiveberg_spark.operators.simsearch import knn_graph_blocked_edges
    from hiveberg_spark.plans.inspect import explain_str

    df = knn_graph_blocked_edges(spark, sf_dir)
    plan = explain_str(df, "formatted")
    # formatted mode lists each node as "(n) NodeName" followed by
    # detail lines (Arguments, Output); examine every Exchange that
    # partitions on the candidate-pair key
    saw_pair_exchange = False
    for node in re.split(r"\n\(\d+\) ", plan):
        head = node.split("\n", 1)[0]
        if "Exchange" not in head:
            continue
        m = re.search(r"hashpartitioning\(([^)]*)\)", node)
        keys = m.group(1) if m else ""
        if "vid" in keys and "nb" in keys:
            saw_pair_exchange = True
            assert "qva" not in node and "qvb" not in node, node
    assert saw_pair_exchange, plan


from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.integers(min_value=0, max_value=30),
        ).filter(lambda p: p[0] != p[1]),
        min_size=1,
        max_size=25,
    )
)
def test_min_label_components_matches_union_find(spark, pairs):
    """Property: on any random pair graph, the shared min-label kernel
    agrees with a pure-Python union-find labeling each component by its
    minimum node id."""
    from hiveberg_spark.operators.dedup import min_label_components

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {n: find(n) for n in parent}

    df = spark.createDataFrame(pairs, ["doc_a", "doc_b"])
    got = {
        r.doc_id: r.component for r in min_label_components(df).collect()
    }
    assert got == expect


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.integers(min_value=0, max_value=30),
        ).filter(lambda p: p[0] != p[1]),
        min_size=1,
        max_size=25,
    )
)
def test_star_components_matches_union_find(spark, pairs):
    """Property: star contraction agrees with union-find min labeling
    on any random pair graph (same contract as min_label_components)."""
    from hiveberg_spark.operators.dedup import star_components

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {n: find(n) for n in parent}

    df = spark.createDataFrame(pairs, ["doc_a", "doc_b"])
    got = {r.doc_id: r.component for r in star_components(df).collect()}
    assert got == expect


def test_star_components_chain_converges_in_log_rounds(spark):
    """The reason star contraction exists: a 300-node PATH graph (the
    adversarial chain case) must converge in O(log n) alternations —
    label propagation needs ~300 rounds here. Also pins correctness:
    every node labels to component 0."""
    import math

    from hiveberg_spark.operators.dedup import star_components

    n = 300
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["doc_a", "doc_b"]
    )
    stats = {}
    got = {
        r.doc_id: r.component
        for r in star_components(pairs, stats=stats).collect()
    }
    assert got == {i: 0 for i in range(n)}
    bound = 2 * math.ceil(math.log2(n)) + 4
    assert stats["alternations"] <= bound, stats


@settings(max_examples=8, deadline=None)
@given(
    st.lists(  # per-doc hash values on a small alphabet so bands collide
        st.integers(min_value=0, max_value=(1 << 64) - 1),
        min_size=2,
        max_size=12,
    ),
    st.integers(min_value=0, max_value=3),
)
def test_banded_hamming_verified_matches_bruteforce(spark, hashes, radius):
    """Property: on ANY hash list, the banded candidate+verify kernel
    returns exactly the brute-force pairs within `radius` — banding may
    never lose a pair at radius < n_bands (pigeonhole) and verify may
    never keep one outside the radius."""
    from hiveberg_spark.operators.multimodal import _banded_hamming_verified

    signed = [h - (1 << 64) if h >= 1 << 63 else h for h in hashes]
    df = spark.createDataFrame(
        list(enumerate(signed)), "doc_id long, ahash long"
    )
    got = {
        (r.doc_a, r.doc_b)
        for r in _banded_hamming_verified(df, 4, radius).collect()
    }
    expect = set()
    for a in range(len(hashes)):
        for b in range(a + 1, len(hashes)):
            ham = bin(hashes[a] ^ hashes[b]).count("1")
            # candidates require a shared 16-bit band; verify requires
            # hamming <= radius. radius < 4 bands => a within-radius
            # pair ALWAYS shares a band, so candidates never lose one.
            if ham <= radius:
                expect.add((a, b))
    assert got == expect


@settings(max_examples=8, deadline=None)
@given(
    st.lists(  # per-video frame-content sets on a tiny alphabet
        st.sets(st.integers(min_value=0, max_value=9), min_size=1, max_size=6),
        min_size=2,
        max_size=8,
    ),
    st.integers(min_value=1, max_value=4),
    st.integers(min_value=1, max_value=8),
)
def test_framehash_vote_pairs_matches_bruteforce(
    spark, videos, min_shared, df_cap
):
    """Property: the voting kernel equals the brute force — pairs whose
    DF-SURVIVING shared-frame count meets the threshold (hashes seen in
    more than df_cap videos are dropped BEFORE voting, in both)."""
    from hiveberg_spark.operators.multimodal import _framehash_vote_pairs

    rows = [
        (vid, i, int(h))
        for vid, frames in enumerate(videos)
        for i, h in enumerate(sorted(frames))
    ]
    df = spark.createDataFrame(rows, "doc_id long, frame_idx long, fhash long")
    got = {
        (r.doc_a, r.doc_b)
        for r in _framehash_vote_pairs(df, min_shared, df_cap).collect()
    }
    n_with = {}
    for frames in videos:
        for h in frames:
            n_with[h] = n_with.get(h, 0) + 1
    surviving = {h for h, n in n_with.items() if n <= df_cap}
    expect = set()
    for a in range(len(videos)):
        for b in range(a + 1, len(videos)):
            shared = len(videos[a] & videos[b] & surviving)
            if shared >= min_shared:
                expect.add((a, b))
    assert got == expect
