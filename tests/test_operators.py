"""Behavioral tests for operators whose semantics the DuckDB oracle
cannot express (hash-seeded LSH, approximate ANN, streaming, UDFs)."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# near-dup dedup
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the afternoon sun light"
    )
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, base.replace("afternoon", "morning")),  # near dup of 1
        (4, "completely different content about spark dataframes and "
            "catalyst optimizer plans with shuffles and broadcasts everywhere"),
        (5, "yet another unrelated document mentioning minhash lsh bands "
            "rows signatures buckets and jaccard similarity estimation"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_duplicates(near_dup_docs):
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.dedup import (
        exact_duplicates,
    )

    groups = exact_duplicates(near_dup_docs).collect()
    assert len(groups) == 1
    assert groups[0]["representative"] == 1
    assert groups[0]["n_dups"] == 2


def test_minhash_finds_planted_near_dups(near_dup_docs):
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.dedup import (
        minhash_dedup,
    )

    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_dedup(near_dup_docs, threshold=0.5).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0  # exact dup
    assert (1, 3) in pairs and pairs[(1, 3)] > 0.5  # near dup
    assert (1, 4) not in pairs and (4, 5) not in pairs


def test_simhash_near_dups(near_dup_docs):
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.dedup import (
        simhash_candidates,
    )

    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_candidates(near_dup_docs, max_hamming=6).collect()
    }
    assert pairs.get((1, 2)) == 0  # identical text → identical simhash
    assert (1, 3) in pairs  # one-word change → small hamming distance
    assert (1, 4) not in pairs


def test_fingerprint_stable_under_whitespace(spark):
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.text import (
        fingerprint,
    )

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "  alpha  beta   gamma delta epsilon zeta eta theta "),
            (3, "alpha beta gamma delta epsilon zeta eta iota"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r["fingerprint"] for r in fingerprint(df).collect()}
    assert rows[1] == rows[2]  # whitespace-insensitive
    assert rows[1] != rows[3]


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.similarity import (
        assign_cells,
        brute_force_top_k,
        ivf_top_k,
        pick_centroids,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    query = emb.filter(F.col("vec_id") == 7).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    exact = {
        r["vec_id"] for r in brute_force_top_k(emb, query, k=10).collect()
    }
    centroids = pick_centroids(emb, n_cells=8)
    indexed = assign_cells(emb, centroids)
    approx = {
        r["vec_id"]
        for r in ivf_top_k(indexed, centroids, query, k=10, n_probe=4).collect()
    }
    # probing half the cells must recover most of the exact top-10
    assert len(exact & approx) >= 5
    # the query vector itself (cosine 1.0) must always be found
    assert 7 in approx


def test_ivf_kmeans_centroids_drop_in(spark, sf_dir):
    """The MLlib k-means centroid builder is a drop-in for the hash
    seed: same (cell_id, centroid) contract, every vector lands in
    exactly one cell, and probing ALL cells reproduces brute force
    exactly (the IVF chain loses nothing beyond the probe pruning —
    partial-probe recall on uniform-random fixtures is noise, so the
    exactness bound is the meaningful invariant)."""
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.similarity import (
        assign_cells,
        brute_force_top_k,
        ivf_top_k,
        kmeans_centroids,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    query = emb.filter(F.col("vec_id") == 7).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    exact = {
        r["vec_id"] for r in brute_force_top_k(emb, query, k=10).collect()
    }
    centroids = kmeans_centroids(emb, n_cells=8)
    assert centroids.count() == 8
    assert set(centroids.columns) == {"cell_id", "centroid"}
    indexed = assign_cells(emb, centroids)
    # partition of the corpus: every vector in exactly one cell
    assert indexed.count() == emb.count()
    # probe all 8 cells → candidate set is the full corpus → exact
    full = {
        r["vec_id"]
        for r in ivf_top_k(indexed, centroids, query, k=10, n_probe=8).collect()
    }
    assert full == exact
    # partial probe must still find the query vector itself (cos=1)
    partial = {
        r["vec_id"]
        for r in ivf_top_k(indexed, centroids, query, k=10, n_probe=2).collect()
    }
    assert 7 in partial


def test_blocked_gemm_matches_exact_pairs(spark, sf_dir):
    """The GEMM scale path must reproduce the JVM recall oracle: same
    pair set, same scores (to rounding), across several block counts
    including blocks larger than the corpus."""
    from childhoodcancerdatainitiative_prefect_pipeline_spark.queries import REGISTRY
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.similarity import (
        blocked_cosine_pairs,
    )

    exact = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in REGISTRY["dedup_embedding_cosine"].fn(spark, sf_dir).collect()
    }
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    for n_blocks in (1, 4, 16):
        got = {
            (r["id_a"], r["id_b"]): r["cosine_sim"]
            for r in blocked_cosine_pairs(emb, 0.45, n_blocks=n_blocks).collect()
        }
        assert set(got) == set(exact), f"pair set differs at n_blocks={n_blocks}"
        for k in exact:
            assert abs(got[k] - exact[k]) < 1e-5, (k, n_blocks)


# ---------------------------------------------------------------------------
# deterministic UUIDv5 (F15)
# ---------------------------------------------------------------------------


def test_uuid5_bit_exact_with_python(spark):
    from childhoodcancerdatainitiative_prefect_pipeline_spark.functions.ids import (
        deterministic_uuid5,
        uuid5_namespace,
    )

    df = spark.createDataFrame(
        [("phs000123", "s1"), ("phs000123", "s2"), ("phs999999", "x")],
        ["study", "key"],
    )
    out = {
        (r["study"], r["key"]): r["guid"]
        for r in deterministic_uuid5(
            df, "guid", "study", "sample", "key"
        ).collect()
    }
    ns = uuid5_namespace("ccdi")
    for (study, key), guid in out.items():
        assert guid == str(uuid.uuid5(ns, f"{study}::sample::{key}"))


def test_mint_guids_one_per_group(spark):
    from childhoodcancerdatainitiative_prefect_pipeline_spark.functions.ids import (
        mint_guids_per_group,
    )

    df = spark.createDataFrame(
        [("u1", "m1", None), ("u1", "m1", None), ("u2", "m2", "dg.4DFC/keep")],
        ["url", "md5", "dcf_indexd_guid"],
    )
    rows = mint_guids_per_group(df, ["url", "md5"]).collect()
    by_group = {}
    for r in rows:
        by_group.setdefault((r["url"], r["md5"]), set()).add(r["dcf_indexd_guid"])
    assert len(by_group[("u1", "m1")]) == 1  # same guid for the group
    assert by_group[("u2", "m2")] == {"dg.4DFC/keep"}  # existing preserved
    minted = next(iter(by_group[("u1", "m1")]))
    assert minted.startswith("dg.4DFC/")


def test_mint_guids_partial_group_propagates_existing(spark):
    """A group where SOME rows already carry a guid must propagate that
    guid to its null rows — never mint a second guid for the group
    (ADVICE r01: one-guid-per-(file_url, md5sum) invariant)."""
    from childhoodcancerdatainitiative_prefect_pipeline_spark.functions.ids import (
        mint_guids_per_group,
    )

    df = spark.createDataFrame(
        [
            ("u1", "m1", "dg.4DFC/existing"),
            ("u1", "m1", None),  # must inherit dg.4DFC/existing, not a mint
            ("u2", "m2", None),
            ("u2", "m2", None),
        ],
        ["url", "md5", "dcf_indexd_guid"],
    )
    rows = mint_guids_per_group(df, ["url", "md5"]).collect()
    by_group = {}
    for r in rows:
        by_group.setdefault((r["url"], r["md5"]), set()).add(r["dcf_indexd_guid"])
    assert by_group[("u1", "m1")] == {"dg.4DFC/existing"}
    assert len(by_group[("u2", "m2")]) == 1
    assert next(iter(by_group[("u2", "m2")])).startswith("dg.4DFC/")


# ---------------------------------------------------------------------------
# iterative chain resolve (J8)
# ---------------------------------------------------------------------------


def test_iterative_resolve_multi_hop_chain(spark):
    """file→{sample|pdx|cell_line} cursors walking pdx/cell_line
    indirection down to a participant (deep_search,
    src/s3_catcherry.py:770-905): the cursor must ADVANCE through
    intermediate maps, and only the terminal map's value is the
    target (ADVICE r01)."""
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.joins import (
        iterative_resolve,
    )

    samples = spark.createDataFrame(
        [("s1", "p1"), ("s2", "p2")], ["sample_id", "participant_id"]
    )
    pdx = spark.createDataFrame([("x1", "s1")], ["pdx_id", "sample_id"])
    cell_line = spark.createDataFrame([("cl1", "x1")], ["cl_id", "pdx_id"])
    frontier = spark.createDataFrame(
        [
            ("f1", "s1"),   # terminal hit immediately
            ("f2", "x1"),   # pdx → sample → participant (1 advance)
            ("f3", "cl1"),  # cell_line → pdx → sample → participant (2 advances)
            ("f4", "zz"),   # unresolvable: matches no map, drops out
        ],
        ["file_id", "__cursor__"],
    )
    out = {
        r["file_id"]: r["consent"]
        for r in iterative_resolve(
            frontier,
            parent_maps=[
                (pdx, "pdx_id", "sample_id"),
                (cell_line, "cl_id", "pdx_id"),
            ],
            terminal_map=(samples, "sample_id", "participant_id"),
            target_col="consent",
        ).collect()
    }
    assert out == {"f1": "p1", "f2": "p1", "f3": "p1"}


def test_lsh_hot_bucket_cap_bounds_candidates(spark):
    """A boilerplate-skewed corpus (40 identical docs) must not square
    inside one LSH bucket when max_bucket_size caps it; genuine
    near-dup pairs in small buckets survive (VERDICT r01 item 6)."""
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.dedup import (
        minhash_lsh_candidates,
    )

    boiler = (
        "subscribe to our newsletter for updates terms of service "
        "privacy policy all rights reserved copyright twenty twenty four"
    )
    near_a = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the afternoon sun light"
    )
    rows = [(i, boiler) for i in range(100, 140)]
    rows += [(1, near_a), (2, near_a.replace("afternoon", "morning"))]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    uncapped = minhash_lsh_candidates(docs).count()
    capped = minhash_lsh_candidates(docs, max_bucket_size=10)
    capped_pairs = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    # the 40-doc boilerplate bucket contributes C(40,2)=780 pairs uncapped
    assert uncapped >= 780
    assert len(capped_pairs) < 40
    assert (1, 2) in capped_pairs  # planted near-dup survives the cap
    assert not any(a >= 100 and b >= 100 for a, b in capped_pairs)


def test_lsh_hot_bucket_guard_announces_skew(spark):
    """The default hot-bucket diagnostic (VERDICT r8 item 7): a
    boilerplate bucket over the warn threshold must surface through
    check_hot_buckets after any action — no extra job, non-blocking
    before the action, silent on quiet corpora."""
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.dedup import (
        _HOT_BUCKET_OBSERVATIONS,
        check_hot_buckets,
        minhash_lsh_candidates,
    )

    _HOT_BUCKET_OBSERVATIONS.clear()
    boiler = (
        "subscribe to our newsletter for updates terms of service "
        "privacy policy all rights reserved copyright twenty twenty four"
    )
    docs = spark.createDataFrame(
        [(i, boiler) for i in range(30)]
        + [(100, "a perfectly unique document about owls and rivers")],
        ["doc_id", "text"],
    )

    # opt-out registers nothing
    minhash_lsh_candidates(docs, hot_bucket_warn=None)
    assert len(_HOT_BUCKET_OBSERVATIONS) == 0

    cands = minhash_lsh_candidates(docs, hot_bucket_warn=5)
    assert len(_HOT_BUCKET_OBSERVATIONS) == 1
    # no action yet: the check must not block, and must retain the obs
    assert check_hot_buckets() == []
    assert len(_HOT_BUCKET_OBSERVATIONS) == 1

    assert cands.count() >= 435  # C(30,2) boilerplate pairs
    msgs: list = []
    got = check_hot_buckets(emit=msgs.append)
    assert len(got) == 1 and len(_HOT_BUCKET_OBSERVATIONS) == 0
    assert got[0]["max_bucket_members"] == 30
    assert got[0]["hot_pair_candidates"] >= 435
    assert got[0]["threshold"] == 5
    assert msgs and "hot bucket" in msgs[0] and "max_bucket_size" in msgs[0]

    # the default threshold stays silent on this corpus but still
    # reports metrics
    minhash_lsh_candidates(docs).count()
    msgs2: list = []
    got2 = check_hot_buckets(emit=msgs2.append)
    assert len(got2) == 1 and got2[0]["max_bucket_members"] == 30
    assert msgs2 == []


# ---------------------------------------------------------------------------
# fuzzy relink (J9)
# ---------------------------------------------------------------------------


def test_fuzzy_relink_cascade(spark):
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.joins import (
        fuzzy_relink,
    )

    manifest = spark.createDataFrame(
        [
            ("a.txt", 10, "s3://old/a.txt"),   # size-exact match
            ("b.txt", 20, "s3://old/b.txt"),   # unique name, size mismatch
            ("c.txt", 30, "s3://old/c.txt"),   # ambiguous (2 candidates)
            ("d.txt", 40, "s3://old/d.txt"),   # missing from listing
        ],
        ["file_name", "file_size", "file_url"],
    )
    listing = spark.createDataFrame(
        [
            ("a.txt", 10, "s3://new/a.txt"),
            ("b.txt", 99, "s3://new/b.txt"),
            ("c.txt", 31, "s3://new/1/c.txt"),
            ("c.txt", 32, "s3://new/2/c.txt"),
        ],
        ["file_name", "file_size", "file_path"],
    )
    out = {r["file_name"]: r for r in fuzzy_relink(manifest, listing).collect()}
    assert out["a.txt"]["relink_status"] == "size_match"
    assert out["a.txt"]["resolved_url"] == "s3://new/a.txt"
    assert out["b.txt"]["relink_status"] == "name_match"
    assert out["b.txt"]["resolved_url"] == "s3://new/b.txt"
    assert out["c.txt"]["relink_status"] == "ambiguous"
    assert out["c.txt"]["resolved_url"] == "s3://old/c.txt"  # unchanged
    assert out["d.txt"]["relink_status"] == "missing"


# ---------------------------------------------------------------------------
# liftover mapping evaluation (L1)
# ---------------------------------------------------------------------------


def test_liftover_mapping_evaluation():
    from childhoodcancerdatainitiative_prefect_pipeline_spark.plans.liftover import (
        MappingRow,
        evaluate_mapping,
    )

    mapping = [
        MappingRow("n1", "a", "m1", "x"),
        MappingRow("n1", "b", "m1", "x"),  # many→one
        MappingRow("n1", "c", "m1", "y"),
        MappingRow("n1", "c", "m2", "z"),  # one→many
    ]
    report = evaluate_mapping(
        mapping,
        source_props={"n1": ["a", "b", "c", "unmapped_src"]},
        target_props={"m1": ["x", "y", "missing_dst"], "m2": ["z"]},
    )
    assert ("n1", "unmapped_src") in report["unmapped_source_props"]
    assert ("m1", "missing_dst") in report["unmapped_target_props"]
    assert ("m1", "x") in report["many_to_one"]
    assert ("n1", "c") in report["one_to_many"]


# ---------------------------------------------------------------------------
# structured streaming (§2.15): the batch-tested transform attached
# to a real file stream with watermark + memory sink
# ---------------------------------------------------------------------------


def test_streaming_rollup_matches_batch(spark, sf_dir, tmp_path):
    from childhoodcancerdatainitiative_prefect_pipeline_spark.catalog import (
        load_testdata,
    )
    from childhoodcancerdatainitiative_prefect_pipeline_spark.streaming.events import (
        tumbling_rollup,
    )

    events = load_testdata(
        spark, sf_dir, tables=("events",), register_views=False
    )["events"]
    src = str(tmp_path / "stream_src")
    events.write.mode("overwrite").parquet(src)

    batch_result = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in tumbling_rollup(events, "1 hour").collect()
    }

    stream = spark.readStream.schema(events.schema).parquet(src)
    q = (
        tumbling_rollup(stream, "1 hour", watermark="2 hours")
        .writeStream.format("memory")
        .queryName("rollup_test")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        stream_result = {
            (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
            for r in spark.sql("SELECT * FROM rollup_test").collect()
        }
    finally:
        q.stop()
    assert stream_result == batch_result


def test_streaming_dedup(spark, tmp_path):
    import datetime

    from childhoodcancerdatainitiative_prefect_pipeline_spark.streaming.events import (
        streaming_dedup,
    )

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t0, 10, "click", 1.0),
        (1, t0, 10, "click", 1.0),  # duplicate event_id
        (2, t0, 11, "view", 2.0),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value"]
    )
    src = str(tmp_path / "dedup_src")
    df.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (
        streaming_dedup(stream)
        .writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        out = spark.sql("SELECT event_id FROM dedup_test").collect()
    finally:
        q.stop()
    assert sorted(r["event_id"] for r in out) == [1, 2]


def test_stream_stream_attribution_join(spark, tmp_path, sf_dir):
    """Stream-stream interval join must equal the batch non-equi join
    over the same data (watermarks are no-ops in batch)."""
    from childhoodcancerdatainitiative_prefect_pipeline_spark.catalog import load_testdata
    from childhoodcancerdatainitiative_prefect_pipeline_spark.streaming.events import (
        attribution_join,
    )

    events = load_testdata(
        spark, sf_dir, tables=("events",), register_views=False
    )["events"]
    batch = {
        (r["trigger_id"], r["outcome_id"], r["lag_seconds"])
        for r in attribution_join(events).collect()
    }
    assert batch, "fixture must produce at least one attributed pair"

    src = str(tmp_path / "attr_src")
    events.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    q = (
        attribution_join(stream)
        .writeStream.format("memory")
        .queryName("attr_test")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        streamed = {
            (r["trigger_id"], r["outcome_id"], r["lag_seconds"])
            for r in spark.sql("SELECT * FROM attr_test").collect()
        }
    finally:
        q.stop()
    assert streamed == batch


def test_dedup_within_watermark_stream(spark, tmp_path):
    import datetime

    from childhoodcancerdatainitiative_prefect_pipeline_spark.streaming.events import (
        dedup_within_watermark,
    )

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t0, 10, "click", 1.0),
        (1, t0 + datetime.timedelta(minutes=5), 10, "click", 1.0),  # dup in horizon
        (2, t0, 11, "view", 2.0),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value"]
    )
    src = str(tmp_path / "wmdedup_src")
    df.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (
        dedup_within_watermark(stream, watermark="1 hour")
        .writeStream.format("memory")
        .queryName("wmdedup_test")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        out = spark.sql("SELECT event_id FROM wmdedup_test").collect()
    finally:
        q.stop()
    # within one horizon the duplicate is suppressed
    assert sorted(r["event_id"] for r in out) == [1, 2]


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------


def test_multimodal_frame_sample_plan(spark):
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.multimodal import (
        frame_sample_plan,
        synthesize_media,
    )

    base = spark.range(3).select(F.col("id"))
    media = synthesize_media(base, "id", modality="video")
    frames = frame_sample_plan(media, every_n=1).collect()
    assert len(frames) >= 3  # ≥1 frame per video
    assert all(r["frame_no"] >= 0 for r in frames)


def test_uuid5_expr_golden_vectors(spark):
    """uuid5_expr must be bit-exact with python uuid.uuid5 for the
    reference's namespace derivation (src/s3_ccdi_to_tabbreakery.py:11-38)."""
    import uuid

    from pyspark.sql import functions as F

    from childhoodcancerdatainitiative_prefect_pipeline_spark.functions.ids import (
        make_uuid5_udf,
        uuid5_expr,
        uuid5_namespace,
    )

    ns = uuid5_namespace("ccdi")
    names = [
        "study1::part::42",
        "s::n::",
        "phs000123::sample::S-001",
        "αβγ::x::1",  # non-ASCII utf-8
        "a" * 300,
    ]
    df = spark.createDataFrame([(n,) for n in names], ["name"])
    rows = df.select(
        "name",
        uuid5_expr("name").alias("jvm"),
        make_uuid5_udf("ccdi")(F.col("name")).alias("udf"),
    ).collect()
    for r in rows:
        expected = str(uuid.uuid5(ns, r["name"]))
        assert r["jvm"] == expected, f"jvm path mismatch for {r['name']!r}"
        assert r["udf"] == expected, f"udf path mismatch for {r['name']!r}"


def test_uuid5_expr_null_passthrough(spark):
    from childhoodcancerdatainitiative_prefect_pipeline_spark.functions.ids import (
        uuid5_expr,
    )

    df = spark.createDataFrame([(None,)], "name: string")
    assert df.select(uuid5_expr("name").alias("u")).collect()[0]["u"] is None


def test_salted_join_matches_plain_join(spark, sf_dir):
    from pyspark.sql import functions as F

    from childhoodcancerdatainitiative_prefect_pipeline_spark.catalog import (
        load_testdata,
    )
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.skew import (
        salted_join,
        top_skewed_keys,
    )

    cat = load_testdata(
        spark, sf_dir, tables=("lineitem", "supplier"), register_views=False
    )
    lineitem = cat["lineitem"].select("l_suppkey", "l_orderkey", "l_quantity")
    supplier = cat["supplier"].selectExpr("s_suppkey AS l_suppkey", "s_name")

    plain = lineitem.join(supplier, "l_suppkey", "inner")
    salted = salted_join(lineitem, supplier, ["l_suppkey"], n_salts=4)

    assert salted.columns == plain.columns
    assert salted.count() == plain.count()
    key = [F.col(c).cast("string") for c in plain.columns]
    assert (
        plain.select(F.concat_ws("|", *key).alias("k"))
        .exceptAll(salted.select(F.concat_ws("|", *key).alias("k")))
        .count()
        == 0
    )

    hot = top_skewed_keys(lineitem, ["l_suppkey"], min_share=0.0, max_keys=5)
    assert hot.count() == 5
    assert set(hot.columns) == {"l_suppkey", "n_rows", "share"}


def test_salted_join_left_preserves_unmatched(spark):
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.skew import (
        salted_join,
    )

    probe = spark.createDataFrame([(1, "a"), (2, "b"), (99, "z")], ["k", "v"])
    build = spark.createDataFrame([(1, "x"), (2, "y")], ["k", "w"])
    out = salted_join(probe, build, ["k"], n_salts=3, how="left")
    rows = {r["k"]: r["w"] for r in out.collect()}
    assert rows == {1: "x", 2: "y", 99: None}


def test_salted_join_targeted_matches_plain_join(spark, sf_dir):
    """Targeted salting (hot keys only) must equal the plain join and
    keep the build-side replication confined to the hot-key filter."""
    from pyspark.sql import functions as F

    from childhoodcancerdatainitiative_prefect_pipeline_spark.catalog import (
        load_testdata,
    )
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.skew import (
        salted_join_targeted,
    )

    cat = load_testdata(
        spark, sf_dir, tables=("lineitem", "supplier"), register_views=False
    )
    lineitem = cat["lineitem"].select("l_suppkey", "l_orderkey", "l_quantity")
    supplier = cat["supplier"].selectExpr("s_suppkey AS l_suppkey", "s_name")
    hot = [r["l_suppkey"] for r in lineitem.groupBy("l_suppkey").count()
           .orderBy(F.desc("count"), "l_suppkey").limit(2).collect()]

    plain = lineitem.join(supplier, "l_suppkey", "inner")
    targeted = salted_join_targeted(
        lineitem, supplier, ["l_suppkey"], hot_keys=hot, n_salts=4
    )
    assert sorted(targeted.columns) == sorted(plain.columns)
    key = [F.col(c).cast("string") for c in plain.columns]

    def multiset(df):
        return {
            (r["k"], r["count"])
            for r in df.select(F.concat_ws("|", *key).alias("k"))
            .groupBy("k").count().collect()
        }

    assert multiset(targeted) == multiset(plain)
    # hot-key salting must appear in the plan exactly once (the hot
    # branch), and the cold branch joins plain — Union of the two
    plan = targeted._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" in plan
    assert plan.count("__salt__") <= plan.count("Join") * 2

    # empty hot list degrades to the plain join, plan included
    nohot = salted_join_targeted(
        lineitem, supplier, ["l_suppkey"], hot_keys=[], n_salts=4
    )
    assert "__salt__" not in nohot._jdf.queryExecution().optimizedPlan().toString()
    assert multiset(nohot) == multiset(plain)


def test_salted_join_targeted_left_and_composite(spark):
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.skew import (
        salted_join_targeted,
    )

    probe = spark.createDataFrame(
        [(1, "a", "p1"), (1, "a", "p2"), (2, "b", "p3"), (9, "z", "p4")],
        ["k1", "k2", "v"],
    )
    build = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y")], ["k1", "k2", "w"]
    )
    out = salted_join_targeted(
        probe, build, ["k1", "k2"], hot_keys=[(1, "a")], n_salts=3, how="left"
    )
    rows = sorted((r["v"], r["w"]) for r in out.collect())
    assert rows == [("p1", "x"), ("p2", "x"), ("p3", "y"), ("p4", None)]


def test_running_user_totals_stateful(spark, tmp_path, sf_dir):
    """applyInPandasWithState keeps per-user state across micro-batches:
    feed the same users in two files and expect cumulative counters."""
    import time

    from pyspark.sql import functions as F

    from childhoodcancerdatainitiative_prefect_pipeline_spark.catalog import (
        load_testdata,
    )
    from childhoodcancerdatainitiative_prefect_pipeline_spark.streaming.events import (
        running_user_totals,
    )

    events = load_testdata(
        spark, sf_dir, tables=("events",), register_views=False
    )["events"]
    base = events.filter(F.col("user_id") < 5).select("user_id", "value", "ts")
    src = str(tmp_path / "stream_src")
    base.limit(20).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(base.schema).parquet(src)
    q = (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName("user_totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in spark.sql(
            """SELECT user_id, n_events, total_value FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                              ORDER BY n_events DESC) AS rn
                 FROM user_totals) WHERE rn = 1"""
        ).collect()
    }
    expected = {
        r["user_id"]: (r["n"], r["s"])
        for r in base.limit(20)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert set(got) == set(expected)
    for uid, (n, s) in expected.items():
        assert got[uid][0] == n
        assert abs(got[uid][1] - s) < 1e-6


def test_multimodal_resize_chains_with_extract(spark):
    """resize → extract chain: both mapInPandas stages share the media
    schema, so they compose as one pipeline."""
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.multimodal import (
        extract_features,
        resize_images,
        synthesize_media,
    )

    base = spark.range(6).withColumnRenamed("id", "media_id")
    media = synthesize_media(base, "media_id", modality="image")
    resized = resize_images(media, 64, 64)
    rows = {r["media_id"]: r for r in resized.collect()}
    assert len(rows) == 6
    assert all(r["mime"] == "image/x-resized" for r in rows.values())
    assert all(bytes(r["payload"]).startswith(b"resized-64x64-") for r in rows.values())
    assert all(r["n_bytes"] == len(bytes(r["payload"])) for r in rows.values())

    feats = extract_features(resized)
    got = {r["media_id"]: r["feature_value"] for r in feats.collect()}
    assert len(got) == 6
    assert all(v.startswith("len=") for v in got.values())


def test_deterministic_guid_expr_shape_and_stability(spark):
    """v3-shaped UUID: version nibble 3, RFC variant, deterministic."""
    import hashlib
    import re

    from childhoodcancerdatainitiative_prefect_pipeline_spark.functions.ids import (
        deterministic_guid_expr,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("s3://b/f.bam|abc",), (None,)], ["name"])
    rows = df.select(
        deterministic_guid_expr(F.col("name")).alias("g")
    ).collect()
    got = {r["g"] for r in rows}
    assert None in got
    (guid,) = got - {None}
    assert re.fullmatch(
        r"[0-9a-f]{8}-[0-9a-f]{4}-3[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}",
        guid,
    )
    # matches the documented md5 hex surgery exactly
    h = hashlib.md5(b"ccdi-dcf::s3://b/f.bam|abc").hexdigest()
    var = "89ab89ab89ab89ab"[int(h[16], 16)]
    expect = f"{h[:8]}-{h[8:12]}-3{h[13:16]}-{var}{h[17:20]}-{h[20:32]}"
    assert guid == expect


def test_dcf_index_plan(spark):
    """Composed DCF index: mixed-guid groups propagate, missing groups
    mint deterministically, cross-sheet dedup, final column order."""
    from childhoodcancerdatainitiative_prefect_pipeline_spark.plans.dcf import (
        DCF_INDEX_COLS,
        ccdi_to_dcf_index,
    )

    schema = (
        "acl string, authz string, dcf_indexd_guid string, "
        "md5sum string, file_url string, file_size long"
    )
    s1 = spark.createDataFrame(
        [
            ("['phs1']", "['/p/phs1']", "dg.4DFC/keep", "m1", "u1", 10),
            ("['phs1']", "['/p/phs1']", None, "m1", "u1", 10),  # inherits
            ("['phs1']", "['/p/phs1']", None, "m2", "u2", 20),  # minted
            ("['phs1']", "['/p/phs1']", None, "m2", "u2", 20),  # dup row
        ],
        schema,
    )
    s2 = spark.createDataFrame(
        [("['phs2']", "['/p/phs2']", None, "m3", "u3", 30)], schema
    )
    out = ccdi_to_dcf_index([s1, s2], phs_accession="phs-T")
    assert out.columns == DCF_INDEX_COLS
    rows = {(r["md5"], r["urls"]): r for r in out.collect()}
    assert len(rows) == 3  # dup row collapsed
    assert rows[("m1", "u1")]["guid"] == "dg.4DFC/keep"
    minted = rows[("m2", "u2")]["guid"]
    assert minted.startswith("dg.4DFC/") and minted != "dg.4DFC/keep"
    # deterministic: a second run mints the identical guid
    out2 = ccdi_to_dcf_index([s1, s2], phs_accession="phs-T")
    rows2 = {(r["md5"], r["urls"]): r for r in out2.collect()}
    assert rows2[("m2", "u2")]["guid"] == minted
    assert all(r["phs_accession"] == "phs-T" for r in rows.values())


# ---------------------------------------------------------------------------
# graph transitive closure (entry_remover cascade)
# ---------------------------------------------------------------------------


def test_transitive_children_multi_hop_and_cycle(spark):
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.graph import (
        transitive_children,
    )

    # a → b → c → a cycle plus a branch b → d; seed at a
    edges = spark.createDataFrame(
        [
            ("a", "b", "n2"),
            ("b", "c", "n3"),
            ("c", "a", "n1"),
            ("b", "d", "n4"),
            ("x", "y", "n5"),  # disconnected
        ],
        ["parent", "child", "node"],
    )
    seeds = spark.createDataFrame([("a", "n1")], ["entry_id", "node"])
    got = {
        (r.entry_id, r.node)
        for r in transitive_children(edges, seeds).collect()
    }
    assert got == {("a", "n1"), ("b", "n2"), ("c", "n3"), ("d", "n4")}

    # a 40-node chain: the closure runs until the frontier is empty,
    # however many hops that takes
    chain = spark.createDataFrame(
        [(f"v{i}", f"v{i + 1}", "n") for i in range(39)],
        ["parent", "child", "node"],
    )
    seed0 = spark.createDataFrame([("v0", "n")], ["entry_id", "node"])
    got = {r.entry_id for r in transitive_children(chain, seed0).collect()}
    assert got == {f"v{i}" for i in range(40)}


def test_cascade_remove_kept_frames(spark):
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.graph import (
        cascade_remove,
    )

    parents = spark.createDataFrame(
        [("p1",), ("p2",)], ["participant_id"]
    )
    samples = spark.createDataFrame(
        [("s1", "p1"), ("s2", "p2"), ("s3", None)],
        ["sample_id", "participant.participant_id"],
    )
    files = spark.createDataFrame(
        [("f1", "s1"), ("f2", "s2")], ["file_id", "sample.sample_id"]
    )
    seeds = spark.createDataFrame([("p1",)], ["entry_id"])
    closure, kept = cascade_remove(
        {"participant": parents, "sample": samples, "file": files},
        seeds,
        id_cols={
            "participant": "participant_id",
            "sample": "sample_id",
            "file": "file_id",
        },
        link_cols={
            "sample": ["participant.participant_id"],
            "file": ["sample.sample_id"],
        },
    )
    got = {(r.entry_id, r.node) for r in closure.collect()}
    assert got == {("p1", "participant"), ("s1", "sample"), ("f1", "file")}
    assert {r.participant_id for r in kept["participant"].collect()} == {"p2"}
    assert {r.sample_id for r in kept["sample"].collect()} == {"s2", "s3"}
    assert {r.file_id for r in kept["file"].collect()} == {"f2"}


# ---------------------------------------------------------------------------
# guid fill (guid_checker)
# ---------------------------------------------------------------------------


def test_guid_fill_keep_fill_empty_branches(spark):
    from childhoodcancerdatainitiative_prefect_pipeline_spark.plans.dcf import (
        guid_fill_from_index,
    )

    manifest = spark.createDataFrame(
        [
            # existing guid → kept even though index disagrees
            ("h1", "s3://b/d1/a.bam", 10, "dg.4DFC/keep"),
            # missing guid, index match on md5+size+url → filled
            ("h2", "s3://b/d2/b.bam", 20, None),
            # missing guid, index has right md5/size but wrong dirname → ''
            ("h3", "s3://b/d3/c.bam", 30, ""),
            # missing guid, no index record at all → ''
            ("h4", "s3://b/d4/d.bam", 40, None),
        ],
        ["md5sum", "file_url", "file_size", "dcf_indexd_guid"],
    )
    index = spark.createDataFrame(
        [
            ("dg.4DFC/one", "h1", 10, ["s3://b/d1/a.bam"]),
            ("dg.4DFC/two", "h2", 20, ["s3://other/x.bam", "s3://b/d2/b.bam"]),
            ("dg.4DFC/three", "h3", 30, ["s3://elsewhere/c.bam"]),
        ],
        ["did", "hash", "size", "urls"],
    )
    got = {
        r.md5sum: r.dcf_indexd_guid
        for r in guid_fill_from_index(manifest, index).collect()
    }
    assert got == {
        "h1": "dg.4DFC/keep",
        "h2": "dg.4DFC/two",
        "h3": "",
        "h4": "",
    }


# ---------------------------------------------------------------------------
# db stats wide (fixed-column pivot + zero fill)
# ---------------------------------------------------------------------------


def test_db_stats_wide_zero_fill_and_guard(spark):
    from childhoodcancerdatainitiative_prefect_pipeline_spark.plans.db_stats import (
        db_stats_wide,
        duplicate_stat_guard,
        stack_stats,
    )

    studies = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")], ["study_id", "study_name"]
    )
    stats = {
        "a_count": spark.createDataFrame([(1, 5), (2, 7)], ["study_id", "n"]),
        "b_count": spark.createDataFrame([(1, 2)], ["study_id", "n"]),
    }
    wide = db_stats_wide(studies, stats, column_order=["a_count", "b_count"])
    rows = {r.study_id: (r.a_count, r.b_count) for r in wide.collect()}
    assert rows == {1: (5, 2), 2: (7, 0), 3: (0, 0)}

    dup_long = stack_stats(stats).unionByName(
        spark.createDataFrame(
            [(1, "a_count", 9)], ["study_id", "column_name", "count"]
        )
    )
    guard = duplicate_stat_guard(dup_long).collect()
    assert [(g.study_id, g.column_name) for g in guard] == [(1, "a_count")]


# ---------------------------------------------------------------------------
# model mapping diff (reconcile precedence + ;-expansion)
# ---------------------------------------------------------------------------


def test_model_mapping_diff_states(spark):
    from childhoodcancerdatainitiative_prefect_pipeline_spark.plans.model_diff import (
        model_mapping_diff,
    )

    vf = spark.createDataFrame(
        [
            ("sample", "site", "v1"),      # curated rename → CHANGED
            ("sample", "status", "v1"),    # stable → SAME, dropped
            ("sample", "old_only", "v1"),  # removed → DELETION
        ],
        ["lift_from_node", "lift_from_property", "lift_from_version"],
    )
    vt = spark.createDataFrame(
        [
            ("sample", "site_v2", "v2"),
            ("sample", "status", "v2"),
            ("sample", "brand_new", "v2"),  # ADDITION
        ],
        ["lift_to_node", "lift_to_property", "lift_to_version"],
    )
    provided = spark.createDataFrame(
        [("sample", "site", "v1", "sample;archive", "site_v2", "v2")],
        [
            "lift_from_node",
            "lift_from_property",
            "lift_from_version",
            "lift_to_node",
            "lift_to_property",
            "lift_to_version",
        ],
    )
    out = model_mapping_diff(vf, vt, provided, "v1", "v2")
    got = {
        (r.state, r.lift_from_property, r.lift_to_node, r.lift_to_property)
        for r in out.collect()
    }
    assert got == {
        # curated ;-expansion: one row per target node, both CHANGED
        ("CHANGED", "site", "sample", "site_v2"),
        ("CHANGED", "site", "archive", "site_v2"),
        ("DELETION", "old_only", "", ""),
        ("ADDITION", "", "sample", "site_v2"),
        ("ADDITION", "", "sample", "brand_new"),
    }


# ---------------------------------------------------------------------------
# nest_dotted (dotted columns → nested structs)
# ---------------------------------------------------------------------------


def test_nest_dotted_three_levels(spark):
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.reshape import (
        nest_dotted,
    )

    df = spark.createDataFrame(
        [("x", "y", "z", "w")],
        ["plain", "a.b", "a.c.d", "a.c.e"],
    )
    out = nest_dotted(df)
    assert set(out.columns) == {"plain", "a"}
    row = out.collect()[0]
    assert row.plain == "x"
    assert row.a.b == "y"
    assert row.a.c.d == "z"
    assert row.a.c.e == "w"


def test_gdc_multi_map_sorted_join_and_not_mapped(spark):
    from childhoodcancerdatainitiative_prefect_pipeline_spark.plans.gdc import (
        multi_map_col,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("b;a",), ("a",), ("zz",), ("a;zz",), (None,)], ["v"]
    )
    out = df.select(
        multi_map_col(F.col("v"), {"a": "Alpha", "b": "Beta"}).alias("m")
    ).collect()
    got = [r.m for r in out]
    # sorted join of mapped survivors; lone unmapped → Not Mapped;
    # mixed keeps only mapped; null passes through
    assert got == ["Alpha;Beta", "Alpha", "Not Mapped", "Alpha", None]


def test_loop_shuffle_width_scales_and_restores(spark):
    """The iterative loops' shuffle width must grow with input size
    (VERDICT r8 item 3: fixed 32 partitions made the 100x PageRank
    curve superlinear via spill), never narrow below the session
    setting, cap at 4096, and always restore the conf — even on
    error."""
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.graph import (
        _loop_shuffle_width,
    )

    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    # small input → no change (never narrow below the session width)
    with _loop_shuffle_width(spark, 1000) as w:
        assert w == int(old)
        assert spark.conf.get(key) == old
    # 64 MB/partition target at 32 B/row → 2M rows per partition
    with _loop_shuffle_width(spark, 500_000_000) as w:
        assert w == 239  # ceil(500e6 rows * 32 B / 64 MiB)
        assert spark.conf.get(key) == "239"
    assert spark.conf.get(key) == old
    # capped at 4096 tasks
    with _loop_shuffle_width(spark, 10**12) as w:
        assert w == 4096
    assert spark.conf.get(key) == old
    # restored on error too
    try:
        with _loop_shuffle_width(spark, 500_000_000):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get(key) == old
    # non-numeric conf (ADVICE r9: platforms like Databricks accept
    # 'auto'; this Spark build rejects setting it, so stub the conf):
    # leave the width untouched instead of raising ValueError
    class _FakeConf:
        def __init__(self):
            self.sets: list = []

        def get(self, k):
            return "auto"

        def set(self, k, v):  # pragma: no cover - must not be called
            self.sets.append((k, v))

    class _FakeSpark:
        conf = _FakeConf()

    fake = _FakeSpark()
    with _loop_shuffle_width(fake, 500_000_000) as w:
        assert w is None
    assert fake.conf.sets == []  # never touched the opaque config


def test_connected_components_chain_and_singletons(spark):
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.graph import (
        connected_components,
    )

    # chain 1-2-3-4 (diameter 3), pair 10-11, singleton 20
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["src", "dst"]
    )
    nodes = spark.createDataFrame(
        [(1,), (2,), (3,), (4,), (10,), (11,), (20,)], ["id"]
    )
    got = {
        r.id: r.cluster_id
        for r in connected_components(edges, nodes, id_col="id").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20}

    # path 0-1-...-59 (diameter 59): min-label needs one round per hop,
    # so the loop must run to convergence, not to a round cap
    path_edges = spark.createDataFrame(
        [(i, i + 1) for i in range(59)], ["src", "dst"]
    )
    path_nodes = spark.createDataFrame([(i,) for i in range(60)], ["id"])
    deep = {
        r.id: r.cluster_id
        for r in connected_components(
            path_edges, path_nodes, id_col="id"
        ).collect()
    }
    assert deep == {i: 0 for i in range(60)}


def test_pack_sequences_invariants(spark):
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.packing import (
        pack_sequences,
    )

    docs = spark.createDataFrame(
        [(i, 100 + (i * 37) % 900) for i in range(200)] + [(999, 5000)],
        ["doc_id", "n_tokens"],
    )
    out = pack_sequences(docs, budget=1000, n_groups=8).collect()
    # every doc exactly once
    assert sorted(r.doc_id for r in out) == sorted(
        [i for i in range(200)] + [999]
    )
    totals: dict[str, int] = {}
    sizes: dict[str, int] = {}
    for r in out:
        totals[r.pack_id] = totals.get(r.pack_id, 0) + r.n_tokens
        sizes[r.pack_id] = sizes.get(r.pack_id, 0) + 1
    for pid, tot in totals.items():
        # budget respected except singleton over-budget docs
        assert tot <= 1000 or sizes[pid] == 1
    # the 5000-token doc is alone in its pack
    big = [r.pack_id for r in out if r.doc_id == 999][0]
    assert sizes[big] == 1

    # deterministic across runs
    again = pack_sequences(docs, budget=1000, n_groups=8).collect()
    assert sorted((r.pack_id, r.doc_id) for r in again) == sorted(
        (r.pack_id, r.doc_id) for r in out
    )


def test_stratified_sample_fractions_and_determinism(spark):
    from childhoodcancerdatainitiative_prefect_pipeline_spark.queries import REGISTRY

    out = REGISTRY["corpus_stratified_sample"].fn(
        spark, "/root/testdata/sf0.01"
    )
    rows = out.collect()
    again = REGISTRY["corpus_stratified_sample"].fn(
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert sorted(r.doc_id for r in rows) == sorted(r.doc_id for r in again)

    from collections import Counter

    by_lang = Counter(r.lang for r in rows)
    import duckdb

    totals = dict(
        duckdb.sql(
            "SELECT lang, COUNT(*) FROM "
            "'/root/testdata/sf0.01/documents.parquet' GROUP BY 1"
        ).fetchall()
    )
    # hash-threshold sampling approximates each stratum's fraction
    for lang, p in [("en", 0.5), ("de", 0.25), ("fr", 0.25)]:
        if totals.get(lang, 0) >= 40:
            got = by_lang.get(lang, 0) / totals[lang]
            assert abs(got - p) < 0.15, (lang, got, p)


def test_hyperplane_lsh_recall_vs_exact(spark):
    """Banded cosine LSH must recover most true near-dup pairs found
    by the exact all-pairs baseline (8 bands × 2 bits → expected
    candidate probability ≈0.99 at cosine 0.45)."""
    from childhoodcancerdatainitiative_prefect_pipeline_spark.queries import (
        REGISTRY,
    )

    sf = "/root/testdata/sf0.001"
    exact = {
        (r.id_a, r.id_b)
        for r in REGISTRY["dedup_embedding_cosine"].fn(spark, sf).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in REGISTRY["dedup_embedding_lsh"].fn(spark, sf).collect()
    }
    assert lsh <= exact  # verify step keeps only true pairs
    if exact:
        recall = len(lsh & exact) / len(exact)
        assert recall >= 0.8, f"LSH recall {recall:.2f} over {len(exact)} pairs"


def test_similarity_graph_low_threshold_gate(spark):
    """r6 VERDICT item 4: a low-threshold similarity graph must never
    silently come back empty — hyperplane_lsh_pairs raises below the
    documented 0.6 recall floor unless explicitly opted in, and the
    similarity_graph_edges front door routes low thresholds to the
    kNN path (same edge set as the certified kNN-graph entries)."""
    import pytest as _pytest

    from childhoodcancerdatainitiative_prefect_pipeline_spark.catalog import (
        load_testdata,
    )
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.similarity import (
        hyperplane_lsh_pairs,
        knn_graph_edges,
        similarity_graph_edges,
    )

    emb = load_testdata(
        spark, "/root/testdata/sf0.001", tables=("embeddings",),
        register_views=False,
    )["embeddings"]

    with _pytest.raises(ValueError, match="similarity_graph_edges"):
        hyperplane_lsh_pairs(emb, dims=64, threshold=0.3)

    routed = {
        (r.u, r.w)
        for r in similarity_graph_edges(emb, dims=64, threshold=0.3).collect()
    }
    knn = {
        (r.u, r.w)
        for r in knn_graph_edges(
            emb, dims=64, k=10, threshold=0.3
        ).collect()
    }
    assert routed == knn and len(routed) > 0

    # high threshold routes to the banded-LSH path: every edge is a
    # true pair at >= the threshold (verify step), none dropped to kNN
    # top-k truncation semantics
    high = similarity_graph_edges(emb, dims=64, threshold=0.7)
    assert {"u", "w"} == set(high.columns)
    high.collect()  # executes via the LSH plan without raising


def test_hyperplane_signatures_deterministic(spark):
    from childhoodcancerdatainitiative_prefect_pipeline_spark.catalog import (
        load_testdata,
    )
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.similarity import (
        hyperplane_signatures,
    )

    emb = load_testdata(
        spark, "/root/testdata/sf0.001", tables=("embeddings",),
        register_views=False,
    )["embeddings"]
    s1 = {
        (r["vec_id"], r["__sig__"])
        for r in hyperplane_signatures(emb, dims=64).collect()
    }
    s2 = {
        (r["vec_id"], r["__sig__"])
        for r in hyperplane_signatures(emb, dims=64).collect()
    }
    assert s1 == s2 and len(s1) > 0


def test_streaming_sessionize_executes(spark, tmp_path):
    """session_window must run as a real stream (watermarked, append
    mode) and produce the gap-delimited sessions batch logic expects."""
    import datetime

    from childhoodcancerdatainitiative_prefect_pipeline_spark.streaming.events import (
        sessionize,
    )

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def at(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    rows = [
        # user 10: two sessions (gap 45 min > 30 min)
        (1, at(0), 10, "click", 1.0),
        (2, at(10), 10, "view", 2.0),
        (3, at(55), 10, "click", 3.0),
        # user 11: one session
        (4, at(5), 11, "view", 4.0),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value"]
    )
    src = str(tmp_path / "sess_src")
    df.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (
        sessionize(stream, gap="30 minutes", watermark="2 hours")
        .writeStream.format("memory")
        .queryName("sess_test")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        out = spark.sql(
            "SELECT user_id, n_events, session_value FROM sess_test"
        ).collect()
    finally:
        q.stop()
    got = sorted((r["user_id"], r["n_events"], r["session_value"]) for r in out)
    assert got == [(10, 1, 3.0), (10, 2, 3.0), (11, 1, 4.0)]


def test_pagerank_matches_python_reference(spark):
    """5-iteration PageRank on a small digraph (with a dangling node)
    must match a pure-Python reference within float tolerance, and
    ranks must sum to 1."""
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.graph import (
        pagerank,
    )

    edge_list = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c"),
        # e is dangling (no out-edges); reachable from c? no — isolated sink
        ("b", "e"),
    ]
    edges = spark.createDataFrame(edge_list, "src string, dst string")
    got = {r["node"]: r["rank"] for r in pagerank(edges, n_iter=5).collect()}

    # pure-Python reference
    nodes = sorted({n for e in edge_list for n in e})
    n = len(nodes)
    out = {}
    for s, d in edge_list:
        out.setdefault(s, []).append(d)
    ranks = {v: 1.0 / n for v in nodes}
    damping = 0.85
    for _ in range(5):
        dangling = sum(r for v, r in ranks.items() if v not in out)
        base = (1 - damping) / n + damping * dangling / n
        nxt = {v: base for v in nodes}
        for s, ds in out.items():
            for d in ds:
                nxt[d] += damping * ranks[s] / len(ds)
        ranks = nxt

    assert abs(sum(got.values()) - 1.0) < 1e-9
    for v in nodes:
        assert abs(got[v] - ranks[v]) < 1e-9, (v, got[v], ranks[v])


def test_zorder_key_matches_python_reference(spark):
    import random

    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.zorder import (
        zorder_key,
        zorder_py,
    )

    rng = random.Random(3)
    rows = [(rng.randrange(1 << 21), rng.randrange(1 << 21)) for _ in range(200)]
    rows += [(0, 0), ((1 << 21) - 1, (1 << 21) - 1), (1, 0), (0, 1)]
    df = spark.createDataFrame(rows, ["a", "b"])
    got = df.select("a", "b", zorder_key("a", "b").alias("z")).collect()
    for r in got:
        assert r["z"] == zorder_py(r["a"], r["b"]), (r["a"], r["b"])


def test_zorder_layout_tightens_both_dimensions(spark, tmp_path):
    """Z-ordered files must carry small min/max rectangles on BOTH
    dimensions (the whole point of the layout); a single-column sort
    leaves the other dimension's per-file range at full width."""
    import glob

    import pyarrow.parquet as pq

    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.zorder import (
        write_zordered,
    )

    n_side = 256  # 256×256 grid, both dims uniform
    df = (
        spark.range(0, n_side * n_side)
        .withColumn("x", (F.col("id") % n_side).cast("long"))
        .withColumn("y", (F.col("id") / n_side).cast("long"))
        .drop("id")
    )

    linear = str(tmp_path / "linear")
    zed = str(tmp_path / "zed")
    df.repartitionByRange(16, "x").sortWithinPartitions("x").write.parquet(linear)
    write_zordered(df, zed, "x", "y", n_files=16)

    def spans(path, col):
        out = []
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            lo, hi = None, None
            for rg in range(md.num_row_groups):
                stats = md.row_group(rg).column(names.index(col)).statistics
                lo = stats.min if lo is None else min(lo, stats.min)
                hi = stats.max if hi is None else max(hi, stats.max)
            out.append((lo, hi))
        return out

    def files_hit(path, col, value):
        """Files a point predicate must read under min/max pruning."""
        return sum(1 for lo, hi in spans(path, col) if lo <= value <= hi)

    # linear-by-x layout: x predicates prune hard, y predicates can't
    # prune anything (every file spans the full y range)
    assert files_hit(linear, "x", 42) <= 2
    assert files_hit(linear, "y", 42) == 16
    # z-order: predicates on EITHER dimension prune — a few
    # quadrant-crossing files may span full width, but most files
    # cover a small rectangle, so point queries touch a minority
    assert files_hit(zed, "x", 42) <= 8
    assert files_hit(zed, "y", 42) <= 8
    # data intact
    assert spark.read.parquet(zed).count() == n_side * n_side


def test_distributed_prefix_sum_matches_global_window(spark):
    """The two-pass range-partitioned prefix sum must equal the
    single-partition global window exactly (decimal values), across
    partition counts, with ties broken totally."""
    import random
    from decimal import Decimal

    from pyspark.sql import Window

    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.windows import (
        distributed_prefix_sum,
    )

    rng = random.Random(11)
    rows = [
        (i, rng.randrange(0, 50), Decimal(rng.randrange(1, 1000)) / 100)
        for i in range(500)
    ]
    df = spark.createDataFrame(
        rows, "id bigint, grp int, val decimal(10,2)"
    )
    # ties on grp are real: break totally on (grp, id)
    w = Window.orderBy("grp", "id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    expected = {
        r["id"]: r["c"]
        for r in df.withColumn("c", F.sum("val").over(w)).collect()
    }
    for n_parts in (1, 4, 16):
        got = {
            r["id"]: r["cum_sum"]
            for r in distributed_prefix_sum(
                df, "val", ["grp", "id"], n_partitions=n_parts
            ).collect()
        }
        assert got == expected, f"mismatch at n_partitions={n_parts}"


def test_distributed_ntile_matches_global_ntile(spark):
    """distributed_ntile must reproduce F.ntile bit-for-bit, including
    SQL's remainder rule (first N%n buckets one row larger), for
    bucket counts that divide and don't divide N, across partition
    counts."""
    from pyspark.sql import Window

    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.windows import (
        distributed_ntile,
    )

    rows = [(i, (i * 7919) % 13) for i in range(1, 38)]  # 37 rows, ties
    df = spark.createDataFrame(rows, "id bigint, val int")
    order = [F.col("val").asc(), F.col("id").asc()]
    for n_tiles in (3, 5, 37, 50):
        expected = {
            r["id"]: r["t"]
            for r in df.withColumn(
                "t", F.ntile(n_tiles).over(Window.orderBy(*order))
            ).collect()
        }
        for n_parts in (1, 4, 16):
            got = {
                r["id"]: r["t"]
                for r in distributed_ntile(
                    df, n_tiles, order, out_col="t", n_partitions=n_parts
                ).collect()
            }
            assert got == expected, (n_tiles, n_parts)


def test_idempotent_batch_sink_replay_safe(spark, tmp_path):
    """Replaying a micro-batch with the same batch_id (at-least-once
    delivery after a crash) must not duplicate rows; distinct batch
    ids accumulate; the union reads back via partition discovery."""
    from childhoodcancerdatainitiative_prefect_pipeline_spark.streaming.events import (
        idempotent_batch_writer,
    )

    base = str(tmp_path / "sink")
    write = idempotent_batch_writer(base)
    b0 = spark.range(0, 100).withColumn("v", F.col("id") * 2)
    b1 = spark.range(100, 150).withColumn("v", F.col("id") * 2)

    write(b0, 0)
    write(b1, 1)
    write(b0, 0)  # crash-replay of batch 0
    write(b0, 0)  # and again

    back = spark.read.parquet(base)
    assert back.count() == 150
    assert back.select("id").distinct().count() == 150
    assert set(r["batch_id"] for r in back.select("batch_id").distinct().collect()) == {0, 1}

    # real stream through the same writer: every event lands exactly once
    src = str(tmp_path / "stream_src")
    events = spark.range(0, 500).withColumn("v", F.col("id") % 7)
    events.write.mode("overwrite").parquet(src)
    out = str(tmp_path / "stream_sink")
    stream = spark.readStream.schema(events.schema).parquet(src)
    q = (
        stream.writeStream.foreachBatch(idempotent_batch_writer(out))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.read.parquet(out)
    assert got.count() == 500
    assert got.select("id").distinct().count() == 500


def test_equi_depth_bucket_balances_skew(spark):
    """Buckets of a heavily skewed column must come out near-uniform
    (that's the point vs uniform-width binning), bounded in [0, n),
    and monotone in the underlying value."""
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.zorder import (
        equi_depth_bucket,
    )

    # lognormal-ish skew: squares of ids
    df = spark.range(1, 4001).withColumn(
        "v", (F.col("id") * F.col("id")).cast("double")
    )
    out = equi_depth_bucket(df, "v", n_buckets=16)
    rows = out.select("v", "v_bucket").collect()
    buckets = [r["v_bucket"] for r in rows]
    assert min(buckets) == 0 and max(buckets) == 15
    from collections import Counter

    sizes = Counter(buckets)
    # equi-depth: every bucket within 2x of the ideal 250
    assert all(125 <= sizes[b] <= 500 for b in range(16)), sizes
    # monotone: sorting by value never decreases the bucket
    ordered = sorted(rows, key=lambda r: r["v"])
    assert all(
        ordered[i]["v_bucket"] <= ordered[i + 1]["v_bucket"]
        for i in range(len(ordered) - 1)
    )


def test_duplicated_spans_planted_passages(spark):
    """A shared 12-token passage produces exactly one maximal span per
    doc covering the passage; unique text produces no spans; in-doc
    repetition marks both occurrences."""
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.dedup import (
        duplicated_spans,
    )

    passage = "p0 p1 p2 p3 p4 p5 p6 p7 p8 p9 p10 p11"  # 12 tokens
    uniq = lambda tag, n: " ".join(f"{tag}{i}" for i in range(n))  # noqa: E731
    rows = [
        # passage at offset 3
        (1, uniq("a", 3) + " " + passage + " " + uniq("b", 4)),
        # same passage at offset 0
        (2, passage + " " + uniq("c", 5)),
        # fully unique doc
        (3, uniq("d", 20)),
        # in-doc repetition: the same 9 tokens twice, separated
        (4, uniq("e", 9) + " " + uniq("x", 4) + " " + uniq("e", 9)),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"]).select(
        "doc_id",
        F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != "").alias(
            "toks"
        ),
    )
    spans = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in duplicated_spans(docs, k=8).collect()
    }
    by_doc = {}
    for d, s, e in spans:
        by_doc.setdefault(d, []).append((s, e))
    # doc 1: tokens 3..15 are the passage → one span [3, 15)
    assert by_doc[1] == [(3, 15)]
    # doc 2: passage at [0, 12)
    assert by_doc[2] == [(0, 12)]
    # doc 3: nothing
    assert 3 not in by_doc
    # doc 4: e0..e8 at [0,9) and [13,22) both duplicated
    assert sorted(by_doc[4]) == [(0, 9), (13, 22)]


def test_cut_spans_removes_marked_tokens(spark):
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.dedup import (
        cut_spans,
        duplicated_spans,
    )

    passage = " ".join(f"p{i}" for i in range(12))
    rows = [
        (1, "a0 a1 a2 " + passage + " b0 b1"),
        (2, passage + " c0 c1 c2"),
        (3, " ".join(f"d{i}" for i in range(15))),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"]).select(
        "doc_id",
        F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != "").alias(
            "toks"
        ),
    )
    spans = duplicated_spans(docs, k=8)
    out = {
        r["doc_id"]: r["toks_clean"]
        for r in cut_spans(docs, spans).collect()
    }
    assert out[1] == ["a0", "a1", "a2", "b0", "b1"]
    assert out[2] == ["c0", "c1", "c2"]
    assert out[3] == [f"d{i}" for i in range(15)]  # untouched


def test_running_user_totals_tws_matches_classic(spark, tmp_path, sf_dir):
    """The transformWithState rendering must produce the same final
    per-user totals as the applyInPandasWithState classic on the same
    input stream.  The operator's runtime needs protobuf (not in this
    container — same gating convention as boto3/openpyxl/codecs), so
    the execution check runs wherever the dep exists."""
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithState runtime requires protobuf; "
        "not installed in this container",
    )
    from childhoodcancerdatainitiative_prefect_pipeline_spark.catalog import (
        load_testdata,
    )
    from childhoodcancerdatainitiative_prefect_pipeline_spark.streaming.events import (
        running_user_totals_tws,
    )

    events = load_testdata(
        spark, sf_dir, tables=("events",), register_views=False
    )["events"]
    base = events.filter(F.col("user_id") < 5).select("user_id", "value", "ts")
    sample = base.limit(20)
    src = str(tmp_path / "tws_src")
    sample.coalesce(1).write.parquet(src)

    expected = {
        r["user_id"]: (r["n"], round(r["s"], 6))
        for r in sample.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }

    stream = spark.readStream.schema(base.schema).parquet(src)
    q = (
        running_user_totals_tws(stream)
        .writeStream.format("memory")
        .queryName("user_totals_tws")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 6))
        for r in spark.sql(
            """SELECT user_id, n_events, total_value FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                              ORDER BY n_events DESC) AS rn
                 FROM user_totals_tws) WHERE rn = 1"""
        ).collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# Round-4 curation operators: Bloom filter + SemDeDup
# ---------------------------------------------------------------------------


def test_bloom_no_false_negatives_and_low_fp_rate(spark):
    """Every inserted key must probe true; disjoint keys must almost
    always probe false (m=65536 bits, k=3, few hundred keys)."""
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.curation import (
        bloom_build,
        bloom_probe,
    )

    members = spark.range(300).select(
        F.concat(F.lit("key_"), F.col("id")).alias("g")
    )
    others = spark.range(300, 1300).select(
        F.concat(F.lit("key_"), F.col("id")).alias("g")
    )
    bloom = bloom_build(members, "g", m_bits=65536, k=3)
    assert bloom.count() <= 65536 // 32  # compact regardless of key count

    hit_members = bloom_probe(members, bloom, "g", m_bits=65536, k=3)
    assert hit_members.filter(~F.col("maybe_member")).count() == 0  # no FN

    hit_others = bloom_probe(others, bloom, "g", m_bits=65536, k=3)
    fp = hit_others.filter(F.col("maybe_member")).count()
    # 300 keys * 3 bits in 65536 -> per-probe FP ~ (900/65536)^3 ~ 2.6e-6
    assert fp <= 10


def test_semdedup_flags_subset_of_exact_cosine_pairs(spark, sf_dir):
    """A SemDeDup duplicate needs a smaller-id SAME-CLUSTER neighbor
    above tau, so the flagged set is a subset of the exact all-pairs
    id_b set at the same threshold — and deterministic."""
    from childhoodcancerdatainitiative_prefect_pipeline_spark.queries import REGISTRY

    sem = REGISTRY["semdedup_prune"].fn(spark, sf_dir)
    flagged = {r.vec_id for r in sem.filter("is_dup").collect()}
    exact = REGISTRY["dedup_embedding_cosine"].fn(spark, sf_dir)
    exact_b = {r.id_b for r in exact.collect()}
    assert flagged <= exact_b

    again = {
        r.vec_id
        for r in REGISTRY["semdedup_prune"].fn(spark, sf_dir).filter("is_dup").collect()
    }
    assert flagged == again

    # every vector is assigned to exactly one cluster
    assert sem.count() == sem.select("vec_id").distinct().count()


def test_cms_never_underestimates_and_merges(spark):
    """CMS guarantee: estimate >= truth for every key; sketches of
    disjoint halves merged == sketch of the whole."""
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.sketches import (
        cms_build,
        cms_estimate,
        cms_merge,
    )

    df = spark.range(5000).select((F.col("id") % 97).alias("k"))
    sketch = cms_build(df, "k", depth=3, width=64)
    exact = df.groupBy("k").agg(F.count("*").alias("exact_n"))
    est = cms_estimate(exact, sketch, "k", depth=3, width=64)
    assert est.filter(F.col("cms_est") < F.col("exact_n")).count() == 0

    lo = cms_build(df.filter("id < 2500").select("k"), "k", depth=3, width=64)
    hi = cms_build(df.filter("id >= 2500").select("k"), "k", depth=3, width=64)
    merged = cms_merge(lo, hi)
    whole = {(r.d, r.bucket): r.cnt for r in sketch.collect()}
    two = {(r.d, r.bucket): r.cnt for r in merged.collect()}
    assert whole == two


def test_triangle_counts_known_graphs(spark):
    """K4 has 4 triangles (every vertex in 3); a path has none;
    direction/duplicate edges don't change the answer."""
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.graph import (
        triangle_counts,
    )

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    # reversed + duplicated edges must not inflate counts
    edges = spark.createDataFrame(k4 + [(b, a) for a, b in k4] + k4, ["u", "w"])
    got = {r.vertex: r.n_triangles for r in triangle_counts(edges).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}

    path = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], ["u", "w"])
    assert triangle_counts(path).count() == 0


def test_hll_registers_merge_and_estimate_accuracy(spark):
    """Register tables max-merge across disjoint halves to the whole;
    the estimate lands within HLL's expected error (~1.04/sqrt(256)
    ≈ 6.5%) of a 970-key truth."""
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )

    df = spark.range(5000).select((F.col("id") % 970).alias("k"))
    whole = hll_registers(df, "k")
    lo = hll_registers(df.filter("id < 2500").select("k"), "k")
    hi = hll_registers(df.filter("id >= 2500").select("k"), "k")
    merged = (
        lo.unionByName(hi).groupBy("bucket").agg(F.max("M").alias("M"))
    )
    assert {(r.bucket, r.M) for r in whole.collect()} == {
        (r.bucket, r.M) for r in merged.collect()
    }
    est = hll_estimate(whole).collect()[0].hll_est
    assert abs(est - 970) / 970 < 0.2


def test_minhash_signature_estimates_jaccard(spark, sf_dir):
    """The fraction of agreeing MinHash positions is an unbiased
    Jaccard estimator; with 64 hashes the mean absolute error over
    real document pairs must be small."""
    from childhoodcancerdatainitiative_prefect_pipeline_spark.catalog import load_testdata
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.dedup import (
        minhash_signature,
        with_shingles,
    )

    docs = load_testdata(
        spark, sf_dir, tables=("documents",), register_views=False
    )["documents"].filter("doc_id % 11 = 0")
    staged = with_shingles(docs, "text", "shg", 3).select(
        "doc_id", "shg", minhash_signature("shg", 64).alias("sig")
    )
    a = staged.select(
        F.col("doc_id").alias("ida"), F.col("shg").alias("sa"), F.col("sig").alias("ga")
    )
    b = staged.select(
        F.col("doc_id").alias("idb"), F.col("shg").alias("sb"), F.col("sig").alias("gb")
    )
    pairs = a.join(b, F.col("ida") < F.col("idb")).select(
        (
            F.size(F.array_intersect("sa", "sb"))
            / F.size(F.array_union("sa", "sb"))
        ).alias("exact"),
        (
            F.size(
                F.filter(
                    F.zip_with("ga", "gb", lambda x, y: x == y), lambda t: t
                )
            )
            / F.lit(64.0)
        ).alias("est"),
    )
    stats = pairs.agg(
        F.avg(F.abs(F.col("exact") - F.col("est"))).alias("mae"),
        F.count("*").alias("n"),
    ).collect()[0]
    assert stats.n > 100
    assert stats.mae < 0.1


def test_exact_kth_twopass_matches_full_sort(spark):
    """Two-pass order statistic == the sorted multiset's k-th element
    for edge and middle ranks, with duplicates present."""
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.quantiles import (
        exact_kth_smallest_twopass,
    )

    df = spark.range(3001).select(
        ((F.xxhash64("id") % 500) * F.lit(0.25)).alias("v")
    )
    vals = sorted(r.v for r in df.collect())
    n = len(vals)
    for k in (1, 2, n // 3, (n + 1) // 2, n - 1, n):
        assert exact_kth_smallest_twopass(df, "v", k=k) == vals[k - 1], k
    # constant column short-circuit
    const = spark.range(10).select(F.lit(7.5).alias("v"))
    assert exact_kth_smallest_twopass(const, "v") == 7.5


def test_weighted_sample_matches_python_reference_and_tracks_weights(spark):
    """E-S top-k == a pure-Python computation of the same keys, and
    high-weight rows are sampled far more often than low-weight ones
    (inclusion tracks weight)."""
    import hashlib
    import math

    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.curation import (
        weighted_sample_k,
    )

    rows = [(i, 100.0 if i % 10 == 0 else 1.0) for i in range(1000)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    got = sorted(r.doc_id for r in weighted_sample_k(df, "w", k=100).collect())

    def key(i, w):
        u = int(hashlib.md5(str(i).encode()).hexdigest()[:13], 16) / float(1 << 52)
        return math.log(u) / w

    want = sorted(
        i for i, _ in sorted(rows, key=lambda t: (-key(*t), t[0]))[:100]
    )
    assert got == want

    heavy = sum(1 for i in got if i % 10 == 0)  # 100 heavy rows of 1000
    assert heavy >= 60  # weight 100x => heavy rows dominate the sample
    # determinism across runs
    again = sorted(r.doc_id for r in weighted_sample_k(df, "w", k=100).collect())
    assert got == again


def test_k_core_peels_to_the_dense_subgraph(spark):
    """K5 with pendant tails: the 3-core is exactly the K5; a tree
    and a long path have no 2-core; matches a pure-Python peeling
    reference on a hashed random graph."""
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.graph import k_core

    k5 = [(a, b) for a in range(5) for b in range(5) if a < b]
    tails = [(0, 10), (10, 11), (1, 12)]
    g = spark.createDataFrame(k5 + tails, ["u", "w"])
    core = {r.vertex: r.degree for r in k_core(g, 3).collect()}
    assert core == {0: 4, 1: 4, 2: 4, 3: 4, 4: 4}

    tree = spark.createDataFrame([(0, 1), (1, 2), (1, 3), (3, 4)], ["u", "w"])
    assert k_core(tree, 2).count() == 0

    # a 70-node path peels one vertex off each end per round: its empty
    # 2-core takes 35 rounds, past any small round cap
    path = spark.createDataFrame([(i, i + 1) for i in range(69)], ["u", "w"])
    assert k_core(path, 2).count() == 0

    # python peeling reference on a deterministic pseudo-random graph
    import hashlib

    edges = []
    for i in range(300):
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)
        a, b = h % 40, (h // 40) % 40
        if a != b:
            edges.append((a, b))
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    changed = True
    while changed:
        changed = False
        for v in list(adj):
            if len(adj.get(v, ())) < 3:
                for n in adj.pop(v, ()):  # remove v everywhere
                    adj[n].discard(v)
                changed = True
    want = {v: len(ns) for v, ns in adj.items()}
    got = {
        r.vertex: r.degree
        for r in k_core(spark.createDataFrame(edges, ["u", "w"]), 3).collect()
    }
    assert got == want


def test_training_shards_are_contiguous_and_reproducible(spark, sf_dir, tmp_path):
    """Range shards: hash ranges don't overlap across files, the
    union is the corpus, and a second write is byte-identical in
    content terms (same doc->file assignment)."""
    from childhoodcancerdatainitiative_prefect_pipeline_spark.catalog import load_testdata
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.curation import (
        write_training_shards,
    )

    docs = load_testdata(spark, sf_dir, tables=("documents",), register_views=False)[
        "documents"
    ]
    p1 = str(tmp_path / "shards1")
    write_training_shards(docs, p1, n_shards=8)
    back = spark.read.parquet(p1).withColumn(
        "f", F.element_at(F.split(F.input_file_name(), "/"), -1)
    ).withColumn("h", F.md5(F.col("doc_id").cast("string")))
    assert back.count() == docs.count()
    ranges = {
        r.f: (r.lo, r.hi)
        for r in back.groupBy("f").agg(
            F.min("h").alias("lo"), F.max("h").alias("hi")
        ).collect()
    }
    spans = sorted(ranges.values())
    for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
        assert hi_prev <= lo_next  # contiguous, non-overlapping hash space

    p2 = str(tmp_path / "shards2")
    write_training_shards(docs, p2, n_shards=8)
    a1 = {
        (r.doc_id, r.f)
        for r in back.select("doc_id", "f").collect()
    }
    b2 = spark.read.parquet(p2).withColumn(
        "f", F.element_at(F.split(F.input_file_name(), "/"), -1)
    )
    # same shard CONTENTS (file names may differ by task attempt ids):
    by_lo_1 = {ranges[f][0]: {d for d, ff in a1 if ff == f} for f in ranges}
    r2 = {
        r.f: (r.lo, {x.doc_id for x in b2.filter(F.col("f") == r.f).collect()})
        for r in b2.withColumn("h", F.md5(F.col("doc_id").cast("string")))
        .groupBy("f")
        .agg(F.min("h").alias("lo"))
        .collect()
    }
    by_lo_2 = {lo: ids for (lo, ids) in r2.values()}
    assert by_lo_1 == by_lo_2


def test_streaming_cms_equals_batch_sketch(spark, tmp_path):
    """A real stream through the per-batch CMS sink merges to exactly
    the sketch of the whole input; replaying a batch id changes
    nothing (idempotent overwrite)."""
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.sketches import (
        cms_build,
    )
    from childhoodcancerdatainitiative_prefect_pipeline_spark.streaming.events import (
        cms_batch_sketcher,
        read_running_cms,
    )

    data = spark.range(2000).select((F.col("id") % 131).alias("k"))
    src = str(tmp_path / "src")
    data.write.mode("overwrite").parquet(src)

    sink = str(tmp_path / "sketches")
    stream = spark.readStream.schema(data.schema).parquet(src)
    q = (
        stream.writeStream.foreachBatch(cms_batch_sketcher(sink, "k"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    running = {
        (r.d, r.bucket): r.cnt for r in read_running_cms(spark, sink).collect()
    }
    whole = {(r.d, r.bucket): r.cnt for r in cms_build(data, "k").collect()}
    assert running == whole

    # crash-replay of batch 0: same rows, overwritten in place
    cms_batch_sketcher(sink, "k")(data, 0)
    cms_batch_sketcher(sink, "k")(data, 0)
    replay = {
        (r.d, r.bucket): r.cnt
        for r in spark.read.parquet(f"{sink}/batch_id=0")
        .groupBy("d", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    }
    assert replay == whole


def test_observation_metrics_piggyback_on_action(spark, sf_dir):
    """Spark's Observation API: row counts / sums collected DURING a
    real action with zero extra passes — the audit counters a
    pipeline emits without re-scanning (the reference logs these
    from pandas; here they ride the job)."""
    from pyspark.sql import Observation

    from childhoodcancerdatainitiative_prefect_pipeline_spark.catalog import load_testdata

    orders = load_testdata(spark, sf_dir, tables=("orders",), register_views=False)[
        "orders"
    ]
    obs = Observation("audit")
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("total_value"),
    )
    n = observed.count()  # one action; metrics piggyback on it
    got = obs.get
    assert got["n_rows"] == n
    exact = orders.agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double")
    ).collect()[0][0]
    assert got["total_value"] == exact


def test_stream_restart_resumes_from_checkpoint(spark, tmp_path):
    """Kill a stream, add new source files, restart with the SAME
    checkpoint: the sink ends with every input row exactly once —
    offsets resume, nothing replays, nothing is lost."""
    import pyspark.sql.functions as SF

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    b1 = spark.range(0, 300).withColumn("v", SF.col("id") % 5)
    b1.write.mode("overwrite").parquet(src)

    def run_once():
        q = (
            spark.readStream.schema(b1.schema)
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()
    assert spark.read.parquet(sink).count() == 300

    b2 = spark.range(300, 450).withColumn("v", SF.col("id") % 5)
    b2.write.mode("append").parquet(src)
    run_once()  # restart from the same checkpoint

    out = spark.read.parquet(sink)
    assert out.count() == 450
    assert out.select("id").distinct().count() == 450  # exactly once


def test_audio_chunking_covers_payload_with_overlap(spark):
    """Audio chunk plan: every byte of the source payload appears in
    at least one chunk, consecutive chunks overlap by (chunk -
    stride), and chunk ids remain unique and traceable."""
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.multimodal import (
        chunk_audio,
        synthesize_media,
    )

    base = spark.range(5).select(F.col("id").alias("media_id"))
    media = synthesize_media(base, "media_id", modality="audio")
    chunks = chunk_audio(media, chunk_ms=6, stride_ms=4).collect()
    assert len(chunks) > len(media.collect())  # fan-out happened
    assert len({c.media_id for c in chunks}) == len(chunks)  # unique ids

    src = {r.media_id: bytes(r.payload) for r in media.collect()}
    for orig_id, payload in src.items():
        own = sorted(
            (c for c in chunks if c.media_id // 10000 == orig_id),
            key=lambda c: c.media_id,
        )
        covered = sum(len(bytes(c.payload)) for c in own)
        # overlapping windows cover >= the whole payload
        assert covered >= len(payload)
        # stride < chunk => first two chunks share bytes
        if len(own) > 1:
            assert bytes(own[0].payload)[4:6] == bytes(own[1].payload)[:2]


def test_bmp_encode_decode_roundtrip_and_quarantine(spark):
    """Real (stdlib) BMP decode: gradient image roundtrips exactly,
    padded row widths handled, corrupt payloads dead-letter."""
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.multimodal import (
        decode_bmp,
        decode_bmp_stats,
        encode_bmp,
    )

    # width 3 → raw row 9 bytes → 3 pad bytes per row: exercises padding
    blob = encode_bmp(3, 2, lambda x, y: (x * 10, y * 20, 128))
    d = decode_bmp(blob)
    assert (d["width"], d["height"]) == (3, 2)
    assert d["sum_r"] == sum(x * 10 for x in range(3)) * 2
    assert d["sum_g"] == sum(y * 20 for y in range(2)) * 3
    assert d["sum_b"] == 128 * 6

    media = spark.createDataFrame(
        [(1, bytearray(blob)), (2, bytearray(b"JUNKniltumps"))],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r for r in decode_bmp_stats(media).collect()}
    assert rows[1]["decode_error"] is None and rows[1]["sum_b"] == 768
    assert rows[2]["decode_error"] is not None  # quarantined, stage survives


def test_png_encode_decode_all_filters_and_quarantine(spark):
    """Real (stdlib) PNG decode: zlib inflate + all five scanline
    unfilters (None/Sub/Up/Average/Paeth), RGB and RGBA, exact channel
    sums; structural corruption (bad magic, truncation, CRC damage)
    dead-letters instead of failing the stage."""
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.multimodal import (
        decode_png,
        decode_png_stats,
        encode_png,
    )

    def pf(x, y):
        return ((x * 7 + y * 3) % 256, (x * 13 + y * 29) % 256, (x * 31) % 256)

    # each single-filter encoding must decode identically — pins every
    # unfilter branch in isolation, then the cycling default
    expected = {
        "r": sum(pf(x, y)[0] for x in range(17) for y in range(11)),
        "g": sum(pf(x, y)[1] for x in range(17) for y in range(11)),
        "b": sum(pf(x, y)[2] for x in range(17) for y in range(11)),
    }
    for cycle in ((0,), (1,), (2,), (3,), (4,), (0, 1, 2, 3, 4)):
        d = decode_png(encode_png(17, 11, pf, filter_cycle=cycle))
        assert (d["width"], d["height"]) == (17, 11), cycle
        assert (d["sum_r"], d["sum_g"], d["sum_b"]) == (
            expected["r"], expected["g"], expected["b"],
        ), cycle

    # RGBA: alpha channel present in the payload, excluded from sums
    d = decode_png(encode_png(5, 4, lambda x, y: (*pf(x, y), 200), alpha=True))
    assert d["sum_r"] == sum(pf(x, y)[0] for x in range(5) for y in range(4))

    good = encode_png(6, 3, pf)
    crc_damaged = bytearray(good)
    crc_damaged[20] ^= 0xFF  # flip a bit inside IHDR → CRC mismatch
    media = spark.createDataFrame(
        [
            (1, bytearray(good)),
            (2, bytearray(b"not a png at all")),
            (3, bytearray(good[:-6])),  # truncated: IEND cut off
            (4, crc_damaged),
        ],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r for r in decode_png_stats(media).collect()}
    assert rows[1]["decode_error"] is None
    assert rows[1]["sum_r"] == sum(pf(x, y)[0] for x in range(6) for y in range(3))
    for bad in (2, 3, 4):
        assert rows[bad]["decode_error"] is not None, bad
        assert rows[bad]["width"] is None


def test_wav_encode_decode_roundtrip_and_quarantine(spark):
    """Real (stdlib) WAV decode: RIFF walk + PCM16 sample sums, stereo
    interleave, word-aligned extra chunks tolerated; structural
    corruption dead-letters instead of failing the stage."""
    import struct

    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.multimodal import (
        decode_wav,
        decode_wav_stats,
        encode_wav,
    )

    def sf(i, ch):
        return ((i * 37 + ch * 1001) % 4001) - 2000

    blob = encode_wav(sf, n_samples=100, sample_rate=8000, n_channels=2)
    d = decode_wav(blob)
    assert d["n_channels"] == 2 and d["sample_rate"] == 8000
    assert d["n_frames"] == 100
    assert d["duration_milli"] == 100 * 1000 // 8000
    exp = [sf(i, ch) for i in range(100) for ch in range(2)]
    assert d["sum_samples"] == sum(exp)
    assert d["sum_abs"] == sum(abs(v) for v in exp)

    # extra LIST chunk before data: the RIFF walk must skip it
    fmt = struct.pack("<HHIIHH", 1, 1, 16000, 32000, 2, 16)
    data = struct.pack("<3h", 10, -20, 30)
    body = (b"WAVE" + b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    extra = b"RIFF" + struct.pack("<I", len(body)) + body
    d2 = decode_wav(extra)
    assert (d2["sum_samples"], d2["sum_abs"], d2["n_frames"]) == (20, 60, 3)

    bad_fmt = encode_wav(sf, 4)  # corrupt the audio-format field
    bad_fmt = bad_fmt[:20] + b"\x55" + bad_fmt[21:]
    media = spark.createDataFrame(
        [(1, bytearray(blob)), (2, bytearray(b"not audio at all")),
         (3, bytearray(blob[:-7])), (4, bytearray(bad_fmt))],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r for r in decode_wav_stats(media).collect()}
    assert rows[1]["decode_error"] is None
    assert rows[1]["sum_abs"] == sum(abs(v) for v in exp)
    for bad in (2, 3, 4):
        assert rows[bad]["decode_error"] is not None, bad
        assert rows[bad]["n_frames"] is None


def test_canonicalize_url_rules(spark):
    """Crawl-URL canonicalization: each rule in isolation and combined;
    URLs already canonical pass through unchanged."""
    from pyspark.sql import functions as F

    from childhoodcancerdatainitiative_prefect_pipeline_spark.functions.urls import (
        canonicalize_url,
    )

    cases = [
        # (input, expected canonical)
        ("http://example.com/a", "http://example.com/a"),
        ("HTTPS://WWW.Example.COM/a/", "http://example.com/a"),
        ("http://example.com/a#frag", "http://example.com/a"),
        ("http://example.com/a?utm_source=x&q=1&ref=tw", "http://example.com/a?q=1"),
        ("http://example.com/a?utm_source=x&utm_medium=y", "http://example.com/a"),
        ("http://example.com/?q=2", "http://example.com?q=2"),
        ("http://example.com", "http://example.com"),
        # param order preserved for kept params
        ("http://example.com/p?b=2&a=1", "http://example.com/p?b=2&a=1"),
        # Path case is content-significant and must survive
        ("http://example.com/CaseSensitive", "http://example.com/CaseSensitive"),
        # tracking matches the param NAME: exact for ref/..., prefix
        # only for utm_ — refresh/refid/referrer are CONTENT params
        # (a prefix match on 'ref' would false-dedup distinct pages)
        (
            "http://example.com/a?refresh=1&refid=9&referrer=home&ref=tw",
            "http://example.com/a?refresh=1&refid=9&referrer=home",
        ),
        # bare 'ref' with no '=' is still the tracking name
        ("http://example.com/a?ref&q=1", "http://example.com/a?q=1"),
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)],
                               ["i", "url"])
    got = {
        r["i"]: r["canon"]
        for r in df.select("i", canonicalize_url(F.col("url")).alias("canon")).collect()
    }
    for i, (u, want) in enumerate(cases):
        assert got[i] == want, (u, got[i], want)


def test_jpeg_idct_kernels_byte_identical():
    """The numpy batched IDCT kernel (r6 VERDICT item 6) must produce
    byte-identical planes to the pure-Python reference — both round
    half-even, so every downstream perceptual-hash / stats oracle
    hash is kernel-independent.  r9 (ADVICE r7/r8): the sweep now runs
    the full 5-seed fixture battery (color 444/420, grayscale,
    edge-clamped odd dims, restart intervals) on top of the original
    3 payloads, and additionally measures every pre-rounding IDCT
    output's distance from the nearest .5 half-even boundary — the
    only place a hypothetical reassociation could flip a byte.  The
    kernels use fixed-order elementwise accumulation (no BLAS), so
    equality is structural; the margin assertion documents that even
    a last-ulp perturbation could not cross a boundary on this
    corpus."""
    import random

    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators import jpeg

    rnd = random.Random(23)
    img = [
        [tuple(rnd.randrange(256) for _ in range(3)) for _ in range(24)]
        for _ in range(24)
    ]
    payloads = [
        jpeg.encode_jpeg(24, 24, lambda x, y: img[y][x], subsample=sub)
        for sub in ("444", "420")
    ] + [
        jpeg.encode_jpeg(
            13, 9, lambda x, y: (x * 31 + y * 57) % 256, grayscale=True
        )
    ] + _jpeg_fixture_battery()

    # Instrument the batched IDCT to record how close any pre-rounding
    # pixel value comes to an exact .5 boundary.
    real_batched = jpeg._batched_idct
    margins = []

    def _spy(coef, m):
        import numpy as np

        px = real_batched(coef, m)
        frac = np.abs(px - np.floor(px) - 0.5)
        margins.append(float(frac.min()))
        return px

    jpeg._batched_idct = _spy
    try:
        for payload in payloads:
            jpeg.set_idct_kernel("numpy")
            np_planes = [
                bytes(c["plane"]) for c in jpeg._decode_planes(payload)[2]
            ]
            jpeg.set_idct_kernel("python")
            try:
                py_planes = [
                    bytes(c["plane"]) for c in jpeg._decode_planes(payload)[2]
                ]
            finally:
                jpeg.set_idct_kernel("numpy")
            assert np_planes == py_planes
    finally:
        jpeg._batched_idct = real_batched
        jpeg.set_idct_kernel("numpy")

    # Every decode exercised the numpy kernel, and no value sat at (or
    # within a wide epsilon of) the half-even boundary: a one-ulp
    # difference (~1e-13 at this magnitude) is ~6 orders of magnitude
    # too small to cross it.
    assert margins, "spy never ran — numpy kernel not exercised"
    assert min(margins) > 1e-7, f"pixel too close to .5 boundary: {min(margins)}"

    import pytest as _pytest

    with _pytest.raises(ValueError):
        jpeg.set_idct_kernel("simd")


def _jpeg_fixture_battery():
    """Shared payload battery: 444/420 color, grayscale, edge-clamped
    odd dimensions, restart intervals 1 and 2, multiple seeds."""
    import random

    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators import jpeg

    payloads = []
    for seed in range(5):
        r = random.Random(seed)
        img = [
            [tuple(r.randrange(256) for _ in range(3)) for _ in range(21)]
            for _ in range(13)
        ]
        payloads.append(
            jpeg.encode_jpeg(21, 13, lambda x, y, i=img: i[y][x], quant=3)
        )
        payloads.append(
            jpeg.encode_jpeg(
                21, 13, lambda x, y, i=img: i[y][x], quant=5,
                subsample="420",
            )
        )
        g = [[r.randrange(256) for _ in range(24)] for _ in range(24)]
        for ri in (1, 2):
            payloads.append(
                jpeg.encode_jpeg(
                    24, 24, lambda x, y, g=g: g[y][x], quant=2,
                    grayscale=True, restart_interval=ri,
                )
            )
    return payloads


def test_jpeg_scan_kernels_byte_identical():
    """r8: the table-driven scan kernel (destuffed segments + 16-bit
    Huffman LUT) must reproduce the _BitReader reference walk exactly
    — same planes, and ValueError on the same broken streams.  The
    batched IDCT/FDCT use FIXED-ORDER accumulation (one elementwise
    multiply-add per input index, ascending — no BLAS), so scalar/
    batched equality is structural, not a property of this fixture
    set; the multi-seed battery guards the indexing, not the
    arithmetic (ADVICE r7 item 2)."""
    import pytest as _pytest

    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators import jpeg

    payloads = _jpeg_fixture_battery()
    for payload in payloads:
        jpeg.set_scan_kernel("fast")
        fast = [bytes(c["plane"]) for c in jpeg._decode_planes(payload)[2]]
        jpeg.set_scan_kernel("python")
        try:
            ref = [
                bytes(c["plane"]) for c in jpeg._decode_planes(payload)[2]
            ]
        finally:
            jpeg.set_scan_kernel("fast")
        assert fast == ref
    # broken streams quarantine identically (ValueError in both)
    for bad in (payloads[0][: len(payloads[0]) // 2], payloads[0][:-15]):
        for kernel in ("fast", "python"):
            jpeg.set_scan_kernel(kernel)
            try:
                with _pytest.raises(ValueError):
                    jpeg._decode_planes(bad)
            finally:
                jpeg.set_scan_kernel("fast")
    with _pytest.raises(ValueError):
        jpeg.set_scan_kernel("gpu")


def test_jpeg_huffman_lut16_matches_canonical_map():
    """lut16 must agree with the canonical (length, code) map for
    LONG codes too (9-16 bits) — the encoder only emits 4/8-bit
    codes, so this pins the table fill directly."""
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators import jpeg

    # canonical table with lengths 3, 9 and 12: 2 three-bit codes,
    # 3 nine-bit codes, 2 twelve-bit codes
    bits = [0, 0, 2, 0, 0, 0, 0, 0, 3, 0, 0, 2, 0, 0, 0, 0]
    vals = bytes([10, 11, 20, 21, 22, 30, 31])
    table = jpeg._build_huffman(bits, vals)
    for (length, code), sym in table["map"].items():
        base = code << (16 - length)
        for probe in (base, base + (1 << (16 - length)) - 1):
            e = table["lut16"][probe]
            assert e == (sym << 5) | length
    # and the 8-bit LUT still refuses codes longer than 8
    assert all(
        hit is None or hit[1] <= 8 for hit in table["lut"] if hit
    )


def test_jpeg_vectorized_sums_match_scalar_reference():
    """decode_jpeg's numpy upsample+YCbCr→RGB sum path must equal the
    per-pixel scalar loop (same IEEE expression structure, half-even
    rounding) — checked by recomputing the scalar sums from the
    decoded planes."""
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators import jpeg

    for payload in _jpeg_fixture_battery()[:6]:
        d = jpeg.decode_jpeg(payload)
        w, h, comps, hmax, vmax = jpeg._decode_planes(payload)
        if len(comps) == 1:
            c = comps[0]
            ref = sum(
                sum(c["plane"][y * c["cols"] : y * c["cols"] + w])
                for y in range(h)
            )
            assert (d["sum_r"], d["sum_g"], d["sum_b"]) == (ref, ref, ref)
            continue
        cy, ccb, ccr = comps
        sr = sg = sb = 0
        for y in range(h):
            yy = {id(c): (y * c["v"] // vmax) * c["cols"] for c in comps}
            for x in range(w):
                lum = cy["plane"][yy[id(cy)] + (x * cy["h"] // hmax)]
                cb = ccb["plane"][yy[id(ccb)] + (x * ccb["h"] // hmax)]
                cr = ccr["plane"][yy[id(ccr)] + (x * ccr["h"] // hmax)]
                sr += min(255, max(0, int(round(lum + 1.402 * (cr - 128)))))
                sg += min(255, max(0, int(round(
                    lum - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)
                ))))
                sb += min(255, max(0, int(round(lum + 1.772 * (cb - 128)))))
        assert (d["sum_r"], d["sum_g"], d["sum_b"]) == (sr, sg, sb)


def test_jpeg_encoder_batched_fdct_byte_identical():
    """r8 encode vectorization: the batched fixed-order FDCT path must
    emit BYTE-identical streams to the scalar _block_zigzag walk —
    certified hashes depend on it."""
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators import jpeg

    def scalar_encode(*args, **kwargs):
        orig = jpeg._batch_component_zigzag

        def forced_import_error(*a, **k):
            raise ImportError("forced scalar path")

        jpeg._batch_component_zigzag = forced_import_error
        try:
            return jpeg.encode_jpeg(*args, **kwargs)
        finally:
            jpeg._batch_component_zigzag = orig

    import random

    for seed in range(4):
        r = random.Random(100 + seed)
        img = [
            [tuple(r.randrange(256) for _ in range(3)) for _ in range(21)]
            for _ in range(13)
        ]
        pf = lambda x, y, i=img: i[y][x]  # noqa: E731
        for kwargs in (
            {"quant": 3},
            {"quant": 5, "subsample": "420"},
            {"quant": 2, "restart_interval": 2},
        ):
            assert jpeg.encode_jpeg(21, 13, pf, **kwargs) == scalar_encode(
                21, 13, pf, **kwargs
            )
        g = [[r.randrange(256) for _ in range(13)] for _ in range(9)]
        gf = lambda x, y, g=g: g[y][x]  # noqa: E731
        assert jpeg.encode_jpeg(
            13, 9, gf, quant=2, grayscale=True
        ) == scalar_encode(13, 9, gf, quant=2, grayscale=True)


def test_jpeg_encode_decode_exact_flat_blocks_and_quarantine(spark):
    """Real (stdlib) baseline JPEG: flat-8×8-block grayscale content
    decodes bit-exactly at quant 1 across 1-component, 4:4:4 and
    4:2:0 streams with and without restart markers; arbitrary color
    content round-trips within ±2/pixel; structural corruption and
    progressive streams dead-letter instead of failing the stage."""
    import random

    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.multimodal import (
        decode_jpeg_stats,
    )

    def v(x, y):
        return (37 * (x // 8) + 91 * (y // 8) + 5) % 256

    W, H = 24, 16
    exp = sum(v(x, y) for x in range(W) for y in range(H))
    for kwargs in (
        {"grayscale": True},
        {"subsample": "444"},
        {"subsample": "420"},
        {"subsample": "420", "restart_interval": 2},
        {"grayscale": True, "restart_interval": 3},
    ):
        pf = v if kwargs.get("grayscale") else (lambda x, y: (v(x, y),) * 3)
        d = decode_jpeg(encode_jpeg(W, H, pf, quant=1, **kwargs))
        assert (d["width"], d["height"]) == (W, H), kwargs
        assert d["sum_r"] == d["sum_g"] == d["sum_b"] == exp, kwargs

    # non-multiple-of-8 dims crop correctly (edge padding replicates
    # inside the same flat block, so still exact)
    d = decode_jpeg(encode_jpeg(13, 9, v, grayscale=True))
    assert (d["width"], d["height"]) == (13, 9)
    assert d["sum_r"] == sum(v(x, y) for x in range(13) for y in range(9))

    rnd = random.Random(11)
    img = [
        [tuple(rnd.randrange(256) for _ in range(3)) for _ in range(16)]
        for _ in range(16)
    ]
    d = decode_jpeg(encode_jpeg(16, 16, lambda x, y: img[y][x], quant=1))
    for ch, key in enumerate(("sum_r", "sum_g", "sum_b")):
        exact = sum(img[y][x][ch] for x in range(16) for y in range(16))
        assert abs(d[key] - exact) <= 2 * 256, key

    good = encode_jpeg(8, 8, v, grayscale=True)
    progressive = bytearray(good)
    sof = progressive.find(b"\xff\xc0")
    progressive[sof + 1] = 0xC2  # masquerade as progressive
    media = spark.createDataFrame(
        [
            (1, bytearray(good)),
            (2, bytearray(b"not a jpeg")),
            (3, bytearray(good[:25])),
            (4, progressive),
        ],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r for r in decode_jpeg_stats(media).collect()}
    assert rows[1]["decode_error"] is None
    assert rows[1]["sum_r"] == sum(v(x, y) for x in range(8) for y in range(8))
    for bad in (2, 3, 4):
        assert rows[bad]["decode_error"] is not None, bad
        assert rows[bad]["width"] is None


def test_mjpeg_avi_encode_decode_and_quarantine(spark):
    """Real (stdlib) MJPEG-in-AVI video decode: RIFF walk + per-frame
    baseline JPEG, exact multi-frame channel sums for MCU-flat gray
    frames; structural corruption and mid-stream dimension changes
    dead-letter instead of failing the stage."""
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.jpeg import (
        encode_jpeg,
    )
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.video import (
        decode_avi_mjpeg,
        decode_mjpeg_stats,
        encode_avi_mjpeg,
    )

    W, H = 16, 8

    def v(x, y, f):
        return (37 * (x // 8) + 91 * (y // 8) + 13 * f + 5) % 256

    frames = [
        encode_jpeg(
            W, H, lambda x, y, f=f: (v(x, y, f),) * 3, quant=1,
            subsample="420",
        )
        for f in range(4)
    ]
    avi = encode_avi_mjpeg(frames, W, H)
    d = decode_avi_mjpeg(avi)
    exp = sum(
        v(x, y, f) for f in range(4) for y in range(H) for x in range(W)
    )
    assert d["n_frames"] == 4 and (d["width"], d["height"]) == (W, H)
    assert d["sum_r"] == d["sum_g"] == d["sum_b"] == exp

    # mixed frame dimensions must fail loud
    odd = encode_avi_mjpeg(
        [frames[0], encode_jpeg(8, 8, lambda x, y: 0, grayscale=True)], W, H
    )
    import pytest

    with pytest.raises(ValueError, match="dimensions changed"):
        decode_avi_mjpeg(odd)

    media = spark.createDataFrame(
        [
            (1, bytearray(avi)),
            (2, bytearray(b"not an avi")),
            (3, bytearray(avi[:50])),
            (4, bytearray(odd)),
        ],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r for r in decode_mjpeg_stats(media).collect()}
    assert rows[1]["decode_error"] is None and rows[1]["sum_r"] == exp
    for bad in (2, 3, 4):
        assert rows[bad]["decode_error"] is not None, bad
        assert rows[bad]["n_frames"] is None


def test_flac_encode_decode_all_subframe_modes_and_quarantine(spark):
    """Real (stdlib) FLAC: lossless roundtrip across verbatim /
    constant / fixed-predictor subframes, Rice partition orders,
    mid/side stereo and odd block sizes; CRC-8/CRC-16 damage and
    truncation dead-letter instead of failing the stage."""
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.flac import (
        decode_flac,
        decode_flac_stats,
        encode_flac,
    )

    def sf(i, ch):
        return ((i * 37 + ch * 1001 + 5) % 4001) - 2000

    N = 600
    exp_sum = sum(sf(i, ch) for i in range(N) for ch in range(2))
    exp_abs = sum(abs(sf(i, ch)) for i in range(N) for ch in range(2))
    for kwargs in (
        {"subframe": "verbatim"},
        {"subframe": "fixed0"},
        {"subframe": "fixed1"},
        {"subframe": "fixed2"},
        {"subframe": "fixed2", "partition_order": 2},
        {"subframe": "fixed2", "mid_side": True},
        {"subframe": "fixed1", "block_size": 100},
    ):
        d = decode_flac(
            encode_flac(sf, N, sample_rate=8000, n_channels=2, **kwargs)
        )
        assert d["sum_samples"] == exp_sum, kwargs
        assert d["sum_abs"] == exp_abs, kwargs
        assert d["n_frames"] == N and d["n_channels"] == 2, kwargs

    # constant subframes on a per-block-constant signal compress hard
    cblob = encode_flac(
        lambda i, ch: 123 if i < 256 else -45, 512, n_channels=1,
        subframe="constant", block_size=256,
    )
    d = decode_flac(cblob)
    assert d["sum_samples"] == 256 * 123 + 256 * (-45)
    assert len(cblob) < 100  # two constant frames + metadata

    good = encode_flac(sf, N, n_channels=2)
    flipped = good[:200] + bytes([good[200] ^ 0x40]) + good[201:]
    media = spark.createDataFrame(
        [
            (1, bytearray(good)),
            (2, bytearray(b"junk")),
            (3, bytearray(good[:60])),
            (4, bytearray(flipped)),
        ],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r for r in decode_flac_stats(media).collect()}
    assert rows[1]["decode_error"] is None
    assert rows[1]["sum_samples"] == exp_sum
    for bad in (2, 3, 4):
        assert rows[bad]["decode_error"] is not None, bad
        assert rows[bad]["n_frames"] is None


def test_image_ahash_phash_and_near_dup_pairs(spark):
    """Perceptual image hashing: pooled-gray grid exactness on
    flat-block BMPs, aHash integer-mean bits, pHash DCT-median bits
    (brightness-shift invariant where aHash is not), banded pair
    generation with Hamming verify, dead-letter on bad payloads."""
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.imagehash import (
        ahash_bits,
        ahash_near_dup_pairs,
        bmp_gray_grid,
        image_ahash,
        phash_bits,
    )
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.multimodal import (
        encode_bmp,
    )

    def pix(x, y, shift=0):
        v = ((x // 8) * 37 + (y // 8) * 91 + 5) % 200
        return (v + shift, v + shift, v + shift)

    blob = encode_bmp(64, 64, pix)
    cells = bmp_gray_grid(blob)
    # flat 8x8 blocks pool exactly: cell sum = 64 * block value
    assert cells[0] == 64 * pix(0, 0)[0]
    assert cells[9] == 64 * pix(8, 8)[0]

    h1, h2 = ahash_bits(cells)
    # verify a couple of bits against the integer-mean definition
    total = sum(cells)
    assert bool(h1 & 1) == (cells[0] * 64 > total)
    assert bool(h2 & 1) == (cells[32] * 64 > total)

    # pHash is invariant to a uniform brightness shift (DC-only
    # change); aHash is too (mean shifts equally) — but pHash must
    # also match after the shift, pinning that DC is excluded
    cells_shift = bmp_gray_grid(encode_bmp(64, 64, lambda x, y: pix(x, y, 40)))
    assert phash_bits(cells) == phash_bits(cells_shift)
    assert ahash_bits(cells) == ahash_bits(cells_shift)

    # near-dup pair pipeline: original, perturbed copy, distinct image
    def pix2(x, y):
        v = ((x // 8) * 53 + (y // 8) * 17 + 99) % 200
        return (v, v, v)

    def pix_pert(x, y):
        if x < 8 and y < 8:
            return (255, 255, 255)
        return pix(x, y)

    media = spark.createDataFrame(
        [
            (1, bytearray(encode_bmp(64, 64, pix))),
            (2, bytearray(encode_bmp(64, 64, pix_pert))),
            (3, bytearray(encode_bmp(64, 64, pix2))),
            (4, bytearray(b"garbage")),
        ],
        "media_id long, payload binary",
    )
    hashes = image_ahash(media)
    hrows = {r["media_id"]: r for r in hashes.collect()}
    assert hrows[4]["decode_error"] is not None and hrows[4]["h1"] is None
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in ahash_near_dup_pairs(hashes, max_hamming=7).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] <= 7
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_audio_ahash_energy_grid_and_pairs(spark):
    """Perceptual audio hashing: window energy sums are exact integer
    |sample| sums (mono and stereo folded), truncation to the largest
    64-divisible prefix, near-dup pair detection through the shared
    banding machinery, dead-letter on malformed/too-short payloads."""
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.audiohash import (
        audio_ahash,
        wav_energy_grid,
    )
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.imagehash import (
        ahash_near_dup_pairs,
    )
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.multimodal import (
        encode_wav,
    )

    def s(i, ch):
        return ((i * 37 + ch * 1001 + 5) % 4001) - 2000

    exp = [
        sum(abs(s(w * 10 + j, 0)) for j in range(10)) for w in range(64)
    ]
    assert wav_energy_grid(encode_wav(s, 640, 8000, 1)) == exp
    # stereo folds channels; extra samples beyond 64 windows truncate
    exp2 = [
        sum(abs(s(w * 10 + j, ch)) for j in range(10) for ch in range(2))
        for w in range(64)
    ]
    assert wav_energy_grid(encode_wav(s, 645, 8000, 2)) == exp2

    def s_pert(i, ch):
        return 3000 if i < 10 else s(i, ch)

    def s_other(i, ch):
        return ((i * 53 + 99) % 4001) - 2000

    media = spark.createDataFrame(
        [
            (1, bytearray(encode_wav(s, 640, 8000, 1))),
            (2, bytearray(encode_wav(s_pert, 640, 8000, 1))),
            (3, bytearray(encode_wav(s_other, 640, 8000, 1))),
            (4, bytearray(b"not audio")),
            (5, bytearray(encode_wav(s, 30, 8000, 1))),  # too short
        ],
        "media_id long, payload binary",
    )
    hashes = audio_ahash(media)
    hrows = {r["media_id"]: r for r in hashes.collect()}
    assert hrows[4]["decode_error"] is not None
    assert hrows[5]["decode_error"] is not None
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in ahash_near_dup_pairs(hashes, max_hamming=7).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] <= 7
    assert (1, 3) not in pairs


def test_video_clip_frame_hashes_and_near_dup(spark):
    """Video near-dup: per-frame luma-grid hashes, frame-aligned band
    join, >= min matching frames; structurally broken clips
    dead-letter as a single null-frame row."""
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.jpeg import (
        encode_jpeg,
    )
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.video import (
        clip_near_dup_pairs,
        encode_avi_mjpeg,
        video_clip_frame_hashes,
    )

    def frame(f, k, pert=False):
        def pix(x, y):
            v = ((x // 8) * 37 + (y // 8) * 91 + 13 * f + k) % 256
            if pert and f == 1 and x < 8 and y < 8:
                v = (v + 128) % 256
            return v

        return encode_jpeg(32, 32, pix, quant=1, grayscale=True)

    clip_a = encode_avi_mjpeg([frame(f, 5) for f in range(3)], 32, 32)
    clip_b = encode_avi_mjpeg(
        [frame(f, 5, pert=True) for f in range(3)], 32, 32
    )
    clip_c = encode_avi_mjpeg([frame(f, 111) for f in range(3)], 32, 32)
    media = spark.createDataFrame(
        [
            (1, bytearray(clip_a)),
            (2, bytearray(clip_b)),
            (3, bytearray(clip_c)),
            (4, bytearray(b"not a clip")),
        ],
        "media_id long, payload binary",
    )
    hashes = video_clip_frame_hashes(media)
    hrows = hashes.collect()
    assert sum(1 for r in hrows if r["media_id"] == 1) == 3  # 3 frames
    [dead] = [r for r in hrows if r["media_id"] == 4]
    assert dead["decode_error"] is not None and dead["frame_no"] is None

    pairs = {
        (r["id_a"], r["id_b"]): r["n_frames_matched"]
        for r in clip_near_dup_pairs(
            hashes, max_hamming=7, min_matching_frames=2
        ).collect()
    }
    assert pairs.get((1, 2), 0) >= 2  # frames 0 and 2 identical
    assert (1, 3) not in pairs and (2, 3) not in pairs

    # frame_stride=2 (the frame_sample_plan discipline in-kernel):
    # only frames 0 and 2 are decoded — TRUE container indices kept,
    # so frame-aligned matching still finds the (1,2) near-dup pair;
    # cost is ∝ sampled frames, not clip length
    sampled = video_clip_frame_hashes(media, frame_stride=2)
    srows = sampled.collect()
    assert sorted(
        r["frame_no"] for r in srows if r["media_id"] == 1
    ) == [0, 2]
    spairs = {
        (r["id_a"], r["id_b"]): r["n_frames_matched"]
        for r in clip_near_dup_pairs(
            sampled, max_hamming=7, min_matching_frames=2
        ).collect()
    }
    assert spairs.get((1, 2), 0) == 2
    assert (1, 3) not in spairs and (2, 3) not in spairs


def test_clip_near_dup_identical_clip_collapse(spark):
    """r10 boilerplate collapse: byte-identical clips share one hash
    sequence, pair each other on every sampled frame, and pair third
    parties identically to their representative — the banded join
    must see one row-set per DISTINCT sequence (the 100× aliased
    probe OOM'd the pre-collapse shape on exactly such groups)."""
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.jpeg import (
        encode_jpeg,
    )
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.video import (
        clip_near_dup_pairs,
        encode_avi_mjpeg,
        video_clip_frame_hashes,
    )

    def frame(f, k, pert=False):
        def pix(x, y):
            v = ((x // 8) * 37 + (y // 8) * 91 + 13 * f + k) % 256
            if pert and f == 1 and x < 8 and y < 8:
                v = (v + 128) % 256
            return v

        return encode_jpeg(32, 32, pix, quant=1, grayscale=True)

    same = encode_avi_mjpeg([frame(f, 5) for f in range(3)], 32, 32)
    near = encode_avi_mjpeg(
        [frame(f, 5, pert=True) for f in range(3)], 32, 32
    )
    far = encode_avi_mjpeg([frame(f, 111) for f in range(3)], 32, 32)
    media = spark.createDataFrame(
        [(1, bytearray(same)), (2, bytearray(same)), (3, bytearray(same)),
         (4, bytearray(near)), (5, bytearray(far))],
        "media_id long, payload binary",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["n_frames_matched"]
        for r in clip_near_dup_pairs(
            video_clip_frame_hashes(media), max_hamming=7,
            min_matching_frames=2,
        ).collect()
    }
    # within-group: all C(3,2) identical pairs, matched on all 3 frames
    assert pairs[(1, 2)] == pairs[(1, 3)] == pairs[(2, 3)] == 3
    # cross-group: every identical member pairs the near clip exactly
    # the way its representative does
    assert pairs[(1, 4)] == pairs[(2, 4)] == pairs[(3, 4)] >= 2
    assert not any(5 in p for p in pairs)


def test_gif_encode_decode_lzw_interlace_and_quarantine(spark):
    """Real (stdlib) GIF decode: dynamic-dictionary LZW, 16- and
    256-color palettes, interlace row reorder pinned by the
    position-weighted checksum, extension blocks skipped; structural
    corruption dead-letters instead of failing the stage."""
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.gif import (
        decode_gif,
        decode_gif_stats,
        encode_gif,
    )

    pal = [(i, (i * 3) % 256, (i * 7) % 256) for i in range(16)]
    W, H = 13, 9

    def idx(x, y):
        return (x + 2 * y) % 16

    exp_chk = sum(
        (y * W + x + 1) * idx(x, y) for y in range(H) for x in range(W)
    )
    d_prog = decode_gif(encode_gif(W, H, idx, pal))
    d_int = decode_gif(encode_gif(W, H, idx, pal, interlace=True))
    assert d_prog == d_int  # interlace is a pure reorder
    assert d_prog["pos_checksum"] == exp_chk
    assert d_prog["sum_r"] == sum(
        pal[idx(x, y)][0] for y in range(H) for x in range(W)
    )

    # 256-color palette exercises 8-bit LZW codes + width growth
    pal256 = [((i * 5) % 256, (i * 11) % 256, (i * 17) % 256)
              for i in range(256)]
    d256 = decode_gif(
        encode_gif(24, 18, lambda x, y: (x * 7 + y * 31) % 256, pal256)
    )
    assert d256["sum_g"] == sum(
        pal256[(x * 7 + y * 31) % 256][1]
        for y in range(18) for x in range(24)
    )

    good = encode_gif(W, H, idx, pal)
    media = spark.createDataFrame(
        [
            (1, bytearray(good)),
            (2, bytearray(b"GIF99z not really")),
            (3, bytearray(good[: len(good) // 2])),
        ],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r for r in decode_gif_stats(media).collect()}
    assert rows[1]["decode_error"] is None
    assert rows[1]["pos_checksum"] == exp_chk
    for bad in (2, 3):
        assert rows[bad]["decode_error"] is not None, bad
        assert rows[bad]["width"] is None


def test_streaming_media_route_decode(spark, tmp_path):
    """Continuous media ingestion: the batch codec kernels run
    unchanged on a file-source stream — two staging waves decode
    incrementally through the mime dispatch, and a corrupt payload
    dead-letters within its micro-batch instead of killing the
    query."""
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.flac import (
        encode_flac,
    )
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.jpeg import (
        encode_jpeg,
    )
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.multimodal import (
        encode_bmp,
    )
    from childhoodcancerdatainitiative_prefect_pipeline_spark.streaming.media import (
        read_media_stream,
        route_media_stream,
    )

    staging = str(tmp_path / "staging")

    def stage(rows, n):
        spark.createDataFrame(
            [(i, m, bytearray(p)) for i, m, p in rows],
            "media_id long, mime string, payload binary",
        ).coalesce(1).write.mode("append").parquet(staging)
        assert n  # waves stay distinct

    bmp = encode_bmp(4, 3, lambda x, y: (10, 20, 30))
    jpg = encode_jpeg(8, 8, lambda x, y: (99,) * 3, quant=1)
    fl = encode_flac(lambda i, ch: 7, 64, subframe="constant", block_size=64)
    stage([(1, "image/bmp", bmp), (2, "image/jpeg", jpg)], 1)

    out = route_media_stream(read_media_stream(spark, staging))
    q = (
        out.writeStream.format("memory")
        .queryName("media_route_test")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        first = spark.sql("select * from media_route_test").collect()
        got = {
            (r["media_id"], r["stat"]): r["value"] for r in first
        }
        assert got[(1, "sum_r")] == 10 * 12
        assert got[(2, "sum_g")] == 99 * 64
        # second wave: a FLAC plus a corrupt BMP that must dead-letter
        stage([(3, "audio/flac", fl), (4, "image/bmp", b"JUNKdata")], 2)
        q.processAllAvailable()
        rows = spark.sql("select * from media_route_test").collect()
        got = {(r["media_id"], r["stat"]): r["value"] for r in rows}
        assert got[(3, "sum_samples")] == 7 * 64
        dead = [r for r in rows if r["media_id"] == 4]
        assert dead and all(r["decode_error"] is not None for r in dead)
        assert all(r["value"] is None for r in dead)
    finally:
        q.stop()


def test_dot_unrolled_bit_identical_to_hof_fold(spark):
    """dot_unrolled keeps the HOF fold's left-to-right sum order, so
    results are bit-identical (not just close) — which is what lets
    the kNN-graph entries swap it in without touching their oracles."""
    from pyspark.sql import functions as F

    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.similarity import (
        dot,
        dot_unrolled,
    )

    e = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select(F.col("embedding").cast("array<double>").alias("v"))
        .limit(200)
    )
    rows = e.select(
        dot(F.col("v"), F.col("v")).alias("hof"),
        dot_unrolled(F.col("v"), F.col("v"), 64).alias("unrolled"),
    ).collect()
    assert rows and all(r["hof"] == r["unrolled"] for r in rows)


def test_dot_flat_bit_identical_to_dot_unrolled(spark):
    """dot_flat over flattened scalar columns keeps dot_unrolled's
    left-associative term order, so results are bit-identical — which
    is what let the kNN edge build switch to the JIT-safe SoA layout
    without touching its certified oracles (SCALE.md r7)."""
    from pyspark.sql import functions as F

    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.similarity import (
        dot_flat,
        dot_unrolled,
        flatten_vectors,
    )

    e = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).limit(200)
    flat = flatten_vectors(e, 64).withColumn(
        "flat_dot", dot_flat("v", "v", 64)
    ).select("vec_id", "flat_dot")
    arr = e.select(
        "vec_id",
        dot_unrolled(
            F.col("embedding").cast("array<double>"),
            F.col("embedding").cast("array<double>"),
            64,
        ).alias("arr_dot"),
    )
    rows = flat.join(arr, "vec_id").collect()
    assert rows and all(r["flat_dot"] == r["arr_dot"] for r in rows)
