"""Tests for the scale-path operators: two-phase assignment parity,
LSH dedup behavior on planted duplicates, ANN recall vs brute force,
multimodal decode, streaming ingestion."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from adsmasterpipeline_spark.operators.assignment import assign_sequential
from adsmasterpipeline_spark.operators.dedup import (
    exact_dedup, minhash_lsh_pairs, simhash64, simhash_pairs,
)
from adsmasterpipeline_spark.operators.multimodal import extract_features
from adsmasterpipeline_spark.operators.similarity import (
    brute_force_topk, label_centroids, sign_lsh_topk,
)
from tests.conftest import SF_DIR


def test_assign_sequential_matches_global_window(spark):
    """The two-phase assignment must be bit-identical to the global
    row_number window."""
    df = spark.range(0, 5000).select(
        (F.col("id") * 7919 % 104729).alias("key"))  # scrambled order
    two_phase = assign_sequential(df, "key", num_partitions=8)
    reference = df.withColumn(
        "seq", F.row_number().over(W.orderBy("key")) - 1)
    mismatches = two_phase.alias("a").join(
        reference.alias("b"), "key").where("a.seq != b.seq").count()
    assert mismatches == 0


def test_assign_sequential_shared_prefix_keys_no_bucket_collapse(spark):
    """Bibcode-like string keys share a long year prefix; the 9-char
    order proxy must still spread them over range buckets (a 3-char
    proxy collapsed '2019ApJ...' keys onto ONE proxy value — all rows
    in one hot bucket). Numbering must also stay bit-identical to the
    global window on strings."""
    from adsmasterpipeline_spark.operators.assignment import _order_proxy

    n_req = 8
    # bibcode shape YYYYJJJJJVVVV…: all share the year prefix "2019";
    # the journal field (chars 5-9) carries the variety — exactly what
    # a 3-char proxy ("201") could not see and a 9-char proxy can
    keys = [(f"2019J{i % 500:04d}{i:05d}A",) for i in range(4000)]
    df = spark.createDataFrame(keys, "key string")
    two_phase = assign_sequential(df, "key", num_partitions=n_req)
    # ≥ min(n_rows, requested) non-empty buckets despite the shared
    # "2019ApJ..." prefix (chars beyond position 9 still distinguish)
    n_buckets = (df.select(_order_proxy(F.col("key")).alias("p"))
                 .agg(F.approx_count_distinct("p")).first()[0])
    assert n_buckets >= n_req  # proxy granularity supports the split
    reference = df.withColumn(
        "seq", F.row_number().over(W.orderBy("key")) - 1)
    mismatches = two_phase.alias("a").join(
        reference.alias("b"), "key").where("a.seq != b.seq").count()
    assert mismatches == 0


def _docs_with_dups(spark):
    base = ("spark merges sorted runs while the shuffle service streams "
            "blocks across executors during wide transformations")
    near = base.replace("blocks", "chunks")  # one-token edit
    other = ("completely different content about embedding quantization "
             "and inverted file probing for nearest neighbor search")
    rows = [(1, base), (2, base), (3, near), (4, other),
            (5, "short text"), (6, "short text")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_planted(spark):
    out = {r["doc_id"]: r for r in exact_dedup(_docs_with_dups(spark)).collect()}
    assert out[1]["group_size"] == 2 and out[1]["is_keeper"]
    assert out[2]["group_size"] == 2 and not out[2]["is_keeper"]
    assert out[4]["group_size"] == 1 and out[4]["is_keeper"]
    assert out[5]["is_keeper"] and not out[6]["is_keeper"]


def test_minhash_lsh_finds_planted_pair(spark):
    """2-row bands: a J≈0.6 pair matches some band with p≈0.97 per the
    banding curve, and deterministically with this hash family (the
    default 4-row bands give p≈0.43 at J=0.6 — correctly tuned for
    the ≥0.7 threshold, not for this planted edit)."""
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in minhash_lsh_pairs(_docs_with_dups(spark), bands=8,
                                        jaccard_threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0          # exact dup
    assert (1, 3) in pairs and (2, 3) in pairs  # near dup caught by LSH
    assert all(j >= 0.5 for j in pairs.values())
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_minhash_lsh_recall_vs_exact(spark):
    """Banding recall pinned against exact all-pairs ground truth on the
    driver corpus: every pair with true shingle-Jaccard >= 0.7 must
    surface (the K-M double-hash family must not cost recall), and
    exact verification means zero false positives."""
    from adsmasterpipeline_spark.operators.dedup import shingles
    from adsmasterpipeline_spark.sources import load_table
    docs = load_table(spark, SF_DIR, "documents")
    sh = docs.select("doc_id", shingles(F.col("text"), 3).alias("_sh")).cache()
    sh.count()
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("_sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("_sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    truth = {(r["id_a"], r["id_b"]) for r in
             a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b",
                     (inter.cast("double") / union).alias("j"))
             .where(F.round("j", 4) >= 0.7).collect()}
    # pin the BENCH config (6 hashes x 2 bands of 3 — what
    # minhash_lsh_neardup ships) so a parameter change that costs
    # recall fails here, not just in the artifact
    found = {(r["id_a"], r["id_b"]) for r in
             minhash_lsh_pairs(docs, num_hashes=6, bands=2,
                               jaccard_threshold=0.7).collect()}
    assert truth, "corpus must contain planted near-dups"
    assert len(found & truth) >= 0.95 * len(truth)   # recall floor
    assert not (found - truth)                        # verified: no FPs


def test_minhash_materialize_modes_agree(spark):
    docs = _docs_with_dups(spark)
    ref = sorted(tuple(r) for r in
                 minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect())
    chk = sorted(tuple(r) for r in
                 minhash_lsh_pairs(docs, jaccard_threshold=0.5,
                                   materialize="checkpoint").collect())
    assert ref == chk


def test_simhash_properties(spark):
    df = _docs_with_dups(spark).select(
        "doc_id", simhash64(F.col("text")).alias("sim"))
    sims = {r["doc_id"]: r["sim"] for r in df.collect()}
    assert sims[1] == sims[2]            # identical text -> identical hash
    assert sims[1] >= 0                  # bit 63 kept clear
    ham_near = bin(sims[1] ^ sims[3]).count("1")
    ham_far = bin(sims[1] ^ sims[4]).count("1")
    assert ham_near < ham_far            # near-dup closer than unrelated

    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in simhash_pairs(_docs_with_dups(spark),
                                    max_hamming=6).collect()}
    assert pairs[(1, 2)] == 0
    assert pairs[(5, 6)] == 0


def test_simhash_pairs_aggregate_matches_column_form(spark):
    """simhash_pairs builds signatures via the codegen'd vote
    aggregation; it must produce bit-identical longs to the per-row
    simhash64 reference on every doc (same tokens, same majority
    rule, bit 63 clear)."""
    from adsmasterpipeline_spark.operators.dedup import (
        banded_hamming_pairs, normalize_text)
    docs = _docs_with_dups(spark)
    ref = {r["doc_id"]: r["sim"] for r in docs.select(
        "doc_id", simhash64(F.col("text")).alias("sim")).collect()}
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(
            F.split(normalize_text(F.col("text")), " "))).alias("_tok"))
    h = F.xxhash64("_tok")
    aggs = [F.sum(F.shiftright(h, i).bitwiseAND(F.lit(1))).alias(f"_v{i}")
            for i in range(63)]
    votes = toks.groupBy("doc_id").agg(*aggs, F.count(F.lit(1)).alias("_n"))
    out = F.lit(0).cast("long")
    for i in range(63):
        out = out.bitwiseOR(
            F.when(F.col(f"_v{i}") * 2 > F.col("_n"), F.lit(1 << i))
            .otherwise(F.lit(0)))
    agg_form = {r["doc_id"]: r["sim"] for r in
                votes.select("doc_id", out.alias("sim")).collect()}
    assert agg_form == ref


def test_sign_lsh_recall_vs_brute_force(spark):
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = e.where(F.col("vec_id") < 16)
    bf = brute_force_topk(q, e, k=1).collect()
    lsh = sign_lsh_topk(q, e, k=1, planes=2).collect()
    bf_top = {r["query_id"]: r["neighbor_id"] for r in bf}
    lsh_top = {r["query_id"]: r["neighbor_id"] for r in lsh}
    # On RANDOM embeddings the true NN has modest cosine, so per-plane
    # sign agreement is ~0.6 -> recall@1 with 2 planes ~0.4; assert a
    # conservative floor plus exact sims on every hit.
    hits = sum(1 for k in bf_top if lsh_top.get(k) == bf_top[k])
    assert hits >= len(bf_top) * 0.2
    bf_sims = {(r["query_id"], r["neighbor_id"]): r["sim"] for r in bf}
    for r in lsh:
        key = (r["query_id"], r["neighbor_id"])
        if key in bf_sims:
            assert r["sim"] == bf_sims[key]


def test_label_centroids_shape(spark):
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cen = label_centroids(e).collect()
    labels = e.select("label").distinct().count()
    assert len(cen) == labels
    assert all(len(r["centroid"]) == 64 for r in cen)


def _p5(w, h, pixels):
    """Binary netpbm P5 (8-bit gray) payload."""
    return b"P5 %d %d 255\n" % (w, h) + bytes(pixels)


def test_multimodal_plumbing(spark):
    """extract_features over real netpbm assets: one row per asset, the
    default 8-value feature, the payload byte count, deterministic
    across runs."""
    assets = [(i, "image", bytearray(_p5(
        4 + i % 5, 2, [(i * 7 + j) % 256 for j in range(2 * (4 + i % 5))])))
        for i in range(30)]
    df = spark.createDataFrame(
        assets, "asset_id long, kind string, media binary")
    feats = extract_features(df).collect()
    assert len(feats) == 30
    byid = {r["asset_id"]: r for r in feats}
    assert all(r["decode_ok"] for r in feats), [r["error"] for r in feats]
    assert all(len(r["feature"]) == 8 for r in feats)
    # 4 columns over the default 8 strips: the empty strips read 0.0
    assert byid[0]["feature"] == [2 / 255, 3 / 255, 4 / 255, 5 / 255] \
        + [0.0] * 4
    assert byid[0]["n_bytes"] == len(assets[0][2]) == 19
    # deterministic across runs
    feats2 = extract_features(df).collect()
    assert sorted(map(str, feats)) == sorted(map(str, feats2))


def test_multimodal_real_decode_stubbed(spark):
    """Payloads with no decoder fail row-wise with a recorded error — a
    video row (video decodes per frame in video_frame_features), a
    non-netpbm image and a non-WAV audio row — and the job itself never
    dies."""
    rows = [(1, "image", bytearray(b"\xff\xd8\xff\xe0 a JPEG")),
            (2, "audio", bytearray(b"ID3 an MP3")),
            (3, "video", bytearray(_p5(2, 1, [0, 255]))),
            (4, "image", bytearray(_p5(2, 1, [0, 255])))]
    df = spark.createDataFrame(
        rows, "asset_id long, kind string, media binary")
    out = {r["asset_id"]: r for r in extract_features(df).collect()}
    assert [out[i]["decode_ok"] for i in (1, 2, 3, 4)] == \
        [False, False, False, True]
    assert all(out[i]["feature"] is None for i in (1, 2, 3))
    assert "netpbm" in out[1]["error"]
    assert "PCM WAV" in out[2]["error"]
    assert "no codec for kind=video" in out[3]["error"]


def test_audio_real_wav_decode(spark):
    """PCM WAV decodes for real via the stdlib wave fallback (no
    third-party codec): the loudness envelope reflects actual sample
    amplitudes, quiet half vs loud half."""
    import io
    import struct
    import wave

    from adsmasterpipeline_spark.operators.multimodal import (
        decode_audio, extract_features,
    )

    n = 800
    quiet = [2000] * (n // 2)           # |x| ~ 0.061 of full scale
    loud = [20000] * (n // 2)           # |x| ~ 0.610
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack(f"<{n}h", *(quiet + loud)))
    payload = buf.getvalue()

    env = decode_audio(payload, dims=8)
    assert len(env) == 8
    assert all(abs(v - 2000 / 32768) < 1e-9 for v in env[:4])
    assert all(abs(v - 20000 / 32768) < 1e-9 for v in env[4:])

    # and through the Spark mapInPandas path
    assets = spark.createDataFrame(
        [(1, "audio", payload, ("audio/wav", None, None, 100))],
        "asset_id long, kind string, media binary, "
        "meta struct<mime:string,width:int,height:int,duration_ms:int>")
    row = extract_features(assets).collect()[0]
    assert row["decode_ok"], row["error"]
    assert abs(row["feature"][0] - 2000 / 32768) < 1e-9


@pytest.mark.slow
def test_streaming_ingest_available_now(spark, tmp_path):
    from adsmasterpipeline_spark.sinks.txnlake import txn_table
    from adsmasterpipeline_spark.streaming.ingest import StreamingIngest

    events_dir = tmp_path / "events"
    events_dir.mkdir()
    batch1 = [
        {"bibcode": "S1", "type": "bib_data", "status": "active",
         "payload": json.dumps({"bibcode": "S1", "title": ["one"]}),
         "event_ts": "2024-01-01T00:00:00.000Z"},
        {"bibcode": "S2", "type": "bib_data", "status": "active",
         "payload": json.dumps({"bibcode": "S2"}),
         "event_ts": "2024-01-01T00:00:01.000Z"},
    ]
    (events_dir / "b1.json").write_text(
        "\n".join(json.dumps(e) for e in batch1))

    ing = StreamingIngest(spark, str(events_dir),
                          str(tmp_path / "records"), str(tmp_path / "ckpt"))
    ing.run_available_now()
    recs = txn_table(spark, str(tmp_path / "records")).read()
    assert recs.count() == 2

    # second file arrives; checkpoint ensures only the delta is applied
    batch2 = [{"bibcode": "S1", "type": "fulltext", "status": "active",
               "payload": json.dumps({"body": "B"}),
               "event_ts": "2024-01-02T00:00:00.000Z"}]
    (events_dir / "b2.json").write_text(json.dumps(batch2[0]))
    ing.run_available_now()
    recs = txn_table(spark, str(tmp_path / "records")).read()
    assert recs.count() == 2
    row = recs.where("bibcode = 'S1'").collect()[0]
    assert json.loads(row["fulltext"])["body"] == "B"
    assert json.loads(row["bib_data"])["title"] == ["one"]


def test_blocked_gemm_pairs_equals_hof_join(spark):
    """The BLAS tile path must reproduce the zip_with/aggregate join
    bit-for-bit at 6 dp — same pairs, same sims, no pair duplicated or
    dropped across tile boundaries (incl. the diagonal tiles)."""
    from adsmasterpipeline_spark.operators.similarity import (
        blocked_gemm_pairs, cosine,
    )
    from adsmasterpipeline_spark.sources import load_table

    e = load_table(spark, SF_DIR, "embeddings")
    a = e.select(F.col("vec_id").alias("vec_a"),
                 F.col("embedding").alias("_a"))
    b = e.select(F.col("vec_id").alias("vec_b"),
                 F.col("embedding").alias("_b"))
    hof = {(r["vec_a"], r["vec_b"]): r["sim"] for r in
           a.join(b, F.col("vec_a") < F.col("vec_b"))
           .select("vec_a", "vec_b",
                   F.round(cosine(F.col("_a"), F.col("_b")), 6).alias("sim"))
           .where("sim >= 0.4").collect()}
    gemm = {(r["vec_a"], r["vec_b"]): r["sim"] for r in
            blocked_gemm_pairs(e, threshold=0.4, n_blocks=7).collect()}
    assert hof and gemm == hof


def test_video_frame_features_tick_parity(spark):
    """One tick per ``every_ms`` from t=0 through the duration
    inclusive — ``int(dur / every_ms) + 1`` rows per asset, at
    ``ts_ms = frame_idx * every_ms`` — and frames of one asset decode
    to distinct features."""
    from adsmasterpipeline_spark.operators.multimodal import (
        ASSET_SCHEMA, encode_rawv, video_frame_features,
    )

    w = h = 4
    frames = [bytes([v] * (w * h)) for v in (10, 128, 250)]
    payload = encode_rawv(frames, w, h, frame_ms=1000)
    durations = {1: 2000, 3: 0, 4: 1500}
    assets = spark.createDataFrame(
        [(aid, "video", payload, ("video/x-rawv", w, h, dur))
         for aid, dur in durations.items()], ASSET_SCHEMA)
    feat = video_frame_features(assets, every_ms=1000)
    counts = {r["asset_id"]: r["n"] for r in
              feat.groupBy("asset_id").agg(F.count(F.lit(1)).alias("n"))
              .collect()}
    assert counts == {aid: int(dur / 1000) + 1
                      for aid, dur in durations.items()}
    rows = feat.orderBy("asset_id", "frame_idx").collect()
    assert all(r["decode_ok"] for r in rows), [r["error"] for r in rows]
    assert all(r["ts_ms"] == r["frame_idx"] * 1000 for r in rows)
    by_asset = {}
    for r in rows:
        by_asset.setdefault(r["asset_id"], []).append(tuple(r["feature"]))
    multi = [v for v in by_asset.values() if len(v) > 1]
    assert multi and all(len(set(v)) == len(v) for v in multi)


def test_video_frame_real_decode_records_error(spark):
    """Non-RAWV video payloads record an error on every tick (no codec
    for them in this package) instead of failing the job."""
    from adsmasterpipeline_spark.operators.multimodal import (
        ASSET_SCHEMA, video_frame_features,
    )

    assets = spark.createDataFrame(
        [(2, "video", b"\x00\x01\x02rubbish-not-rawv",
          ("video/mp4", 4, 4, 1500)),
         (5, "video", b"\x00\x00\x00\x18ftypmp42", ("video/mp4", 4, 4, 0))],
        ASSET_SCHEMA)
    rows = video_frame_features(assets, every_ms=1000).collect()
    assert sorted(r["asset_id"] for r in rows) == [2, 2, 5]
    assert all(not r["decode_ok"] and r["feature"] is None
               and "RAWV" in r["error"] for r in rows)


def test_video_frame_real_rawv_decode(spark):
    """RAWV container payloads decode for real (pure Python) through the
    same mapInPandas path — per-frame features reflect the actual pixel
    intensities of the frame at each tick."""
    import pytest

    from adsmasterpipeline_spark.operators.multimodal import (
        ASSET_SCHEMA, decode_video_frame, encode_rawv, video_frame_features,
    )

    w = h = 4
    intensities = [10, 128, 250]
    frames = [bytes([v] * (w * h)) for v in intensities]
    payload = encode_rawv(frames, w, h, frame_ms=1000)
    assets = spark.createDataFrame(
        [(1, "video", payload, ("video/x-rawv", w, h, 2000))], ASSET_SCHEMA)

    rows = (video_frame_features(assets, every_ms=1000)
            .orderBy("frame_idx").collect())
    assert [r["frame_idx"] for r in rows] == [0, 1, 2]
    assert all(r["decode_ok"] for r in rows), [r["error"] for r in rows]
    for r, v in zip(rows, intensities):
        assert all(abs(x - v / 255.0) < 1e-9 for x in r["feature"])

    # direct decoder contract: seek past the last frame is a data error,
    # a foreign container is an unimplemented codec
    with pytest.raises(ValueError, match="beyond payload"):
        decode_video_frame(payload, ts_ms=3000)
    with pytest.raises(NotImplementedError, match="RAWV"):
        decode_video_frame(b"\x00\x01\x02rubbish-not-rawv", ts_ms=0)
    # corrupt header: zero frame interval
    bad = encode_rawv(frames, w, h, frame_ms=1) \
        .replace(b"\x01\x00", b"\x00\x00", 1)
    with pytest.raises((ValueError, NotImplementedError)):
        decode_video_frame(bad, ts_ms=0)


def test_round6_decimal_matches_spark_round_on_boundaries(spark):
    """The GEMM kernel's per-candidate rounding must equal Spark's
    Round (BigDecimal over the shortest-decimal repr, HALF_UP) — these
    inputs are exact ...5 decimal boundaries whose binary value sits
    BELOW the boundary, where the fast sign*floor(abs*1e6+0.5) scheme
    rounds down but Spark rounds up."""
    from adsmasterpipeline_spark.operators.similarity import _round6_decimal
    vals = [0.0001245, 0.0001255, 0.0002445, 0.1234565, -0.0001245]
    got = spark.createDataFrame([(v,) for v in vals], "v double") \
        .select(F.round("v", 6).alias("r")).collect()
    for v, row in zip(vals, got):
        assert _round6_decimal(v) == row["r"], v


def test_sign_lsh_multiprobe_beats_single_probe(spark):
    """Hamming-2 multiprobe must dominate single-probe recall on the
    real testdata (the ANNRECALL artifact tracks the exact numbers),
    and every reported sim must equal the brute-force value."""
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = e.where(F.col("vec_id") < 16)
    bf = {(r["query_id"], r["neighbor_id"])
          for r in brute_force_topk(q, e, k=3).collect()}
    single = {(r["query_id"], r["neighbor_id"])
              for r in sign_lsh_topk(q, e, k=3, planes=8).collect()}
    multi = {(r["query_id"], r["neighbor_id"])
             for r in sign_lsh_topk(q, e, k=3, planes=8,
                                    hamming=2).collect()}
    assert len(multi & bf) >= len(single & bf)
    assert len(multi & bf) >= len(bf) * 0.25


def test_hadamard_bucket_vectorized_matches_jvm_fold(spark):
    """The Arrow-vectorized Hadamard bucket (int64 GEMM, the round-6
    ann_sign_lsh hot path) must be BIT-IDENTICAL to the interpreted
    JVM expression reference (quantize -> per-plane signed fold) —
    both implement floor(x*2^20) fixed-point sums whose sign feeds
    the bucket bits, so no float summation-order slack exists to
    hide behind."""
    from adsmasterpipeline_spark.operators.similarity import (
        hadamard_bucket_from_quant, hadamard_bucket_vectorized,
        quantize_vec)

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    jvm = hadamard_bucket_from_quant(
        quantize_vec(F.col("embedding")), 8).alias("bkt")
    vec = hadamard_bucket_vectorized(8)(F.col("embedding")).alias("bkt")
    a = {r["vec_id"]: r["bkt"] for r in e.select("vec_id", jvm).collect()}
    b = {r["vec_id"]: r["bkt"] for r in e.select("vec_id", vec).collect()}
    assert a == b
    assert len(set(a.values())) > 32, "buckets must actually spread"


def test_sign_lsh_hadamard_recall_floor(spark):
    """The hadamard/hamming-3 config ann_sign_lsh ships with must hold
    the recall floor that motivated it (VERDICT r5 #2: axis-aligned
    recall FELL to 0.35 at sf0.1; this config measures 0.65-0.83
    rising with SF — pin well above the old drift point)."""
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = e.where(F.col("vec_id") < 32)
    bf = {(r["query_id"], r["neighbor_id"])
          for r in brute_force_topk(q, e, k=3).collect()}
    had = {(r["query_id"], r["neighbor_id"])
           for r in sign_lsh_topk(q, e, k=3, planes=8, hamming=3,
                                  mix="hadamard").collect()}
    assert len(had & bf) >= len(bf) * 0.5


def test_image_real_netpbm_decode(spark):
    """P5/P6 netpbm images decode for REAL (stdlib parse, block-mean
    strip features) through the full mapInPandas path: hand-built
    images with known intensities, comment-bearing headers, 16-bit
    maxval, and a truncated raster recording its error row-wise."""
    from adsmasterpipeline_spark.operators.multimodal import (
        decode_image, extract_features)

    # P5 4x2 grayscale, maxval 255: columns 0,64,128,255
    p5 = b"P5\n# a comment\n4 2\n255\n" + bytes([0, 64, 128, 255] * 2)
    f = decode_image(p5, dims=4)
    assert f == [0.0, 64 / 255, 128 / 255, 1.0]
    # P6 2x1 RGB: pixel0 pure red, pixel1 white -> grays 1/3, 1.0
    p6 = b"P6 2 1 255\n" + bytes([255, 0, 0, 255, 255, 255])
    f6 = decode_image(p6, dims=2)
    assert abs(f6[0] - 1 / 3) < 1e-12 and f6[1] == 1.0
    # 16-bit maxval (big-endian)
    p5w = b"P5 1 1 65535\n" + (32768).to_bytes(2, "big")
    assert abs(decode_image(p5w, dims=1)[0] - 32768 / 65535) < 1e-12

    rows = [(1, "image", bytearray(p5)), (2, "image", bytearray(p6)),
            (3, "image", bytearray(b"P5 4 4 255\n\x00\x01"))]  # truncated
    df = spark.createDataFrame(
        rows, "asset_id long, kind string, media binary")
    out = {r["asset_id"]: r for r in extract_features(df).collect()}
    assert out[1]["decode_ok"] and out[2]["decode_ok"]
    assert not out[3]["decode_ok"]
    assert "truncated netpbm raster" in out[3]["error"]
    assert out[1]["feature"][:2] == [0.0, 64 / 255]


def _gray_png(rows):
    """Valid 8-bit grayscale PNG of ``rows`` (lists of pixel values),
    every scanline with filter 0."""
    import struct
    import zlib

    def chunk(typ, data):
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data)))

    ihdr = struct.pack(">IIBBBBB", len(rows[0]), len(rows), 8, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes(r) for r in rows)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


def test_decode_image_refuses_png():
    """Binary netpbm is the only image format with a decoder: a valid
    PNG raises NotImplementedError naming netpbm, which callers record
    per row."""
    from adsmasterpipeline_spark.operators.multimodal import decode_image

    with pytest.raises(NotImplementedError, match="netpbm"):
        decode_image(_gray_png([[128]]))     # 1x1, pixel 128


def test_image_phash_png_planted_pair(spark):
    """Planted near-dup through the full perceptual-hash path: text
    rasters encoded as netpbm, decoded inside mapInPandas, blockhashed
    and banded — an exact dup collides at hamming 0, an unrelated doc
    pairs with neither, and a PNG copy of the planted raster records a
    per-row decode error and pairs with nothing."""
    from adsmasterpipeline_spark.operators.dedup import (
        banded_hamming_pairs)
    from adsmasterpipeline_spark.operators.multimodal import blockhash63

    def raster(text):
        txt = (text * 8)[:256].ljust(256)
        return [[ord(ch) for ch in txt[r * 64:(r + 1) * 64]]
                for r in range(4)]

    def p5(data):
        return _p5(64, 4, [v for row in data for v in row])

    base = ("the quick brown fox jumps over the lazy dog while spark "
            "shuffles blocks across executors ")
    other = ("completely different content about adaptive query "
             "execution and partition coalescing in the optimizer ")
    rows = [(1, bytearray(p5(raster(base)))),
            (2, bytearray(p5(raster(base)))),
            (3, bytearray(p5(raster(other)))),
            (4, bytearray(_gray_png(raster(base))))]
    df = spark.createDataFrame(rows, "asset_id long, media binary") \
        .selectExpr("asset_id", "'image' as kind", "media")
    feats = extract_features(df, dims=63)
    ok = {r["asset_id"]: (r["decode_ok"], r["error"])
          for r in feats.collect()}
    assert all(ok[i][0] for i in (1, 2, 3))
    assert not ok[4][0] and "netpbm" in ok[4][1]
    sig = feats.where(F.col("decode_ok")).select(
        "asset_id", blockhash63(F.col("feature")).alias("ph"))
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in banded_hamming_pairs(sig, "asset_id", "ph",
                                           max_hamming=3).collect()}
    assert pairs[(1, 2)] == 0
    assert not any(3 in p or 4 in p for p in pairs)


def test_python_udf_query_runs_from_foreign_cwd(tmp_path):
    """Python workers import this package by name. From a working
    directory outside the repo, with the repo on the driver's sys.path
    only (not in the PYTHONPATH env var, which workers would inherit),
    a mapInPandas query must still decode its row."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    repo = str(Path(__file__).resolve().parents[1])
    script = f"""
import sys
sys.path.insert(0, {repo!r})
from adsmasterpipeline_spark.operators.multimodal import extract_features
from adsmasterpipeline_spark.session import get_spark
spark = get_spark("foreign_cwd", shuffle_partitions=1)
df = spark.createDataFrame(
    [(1, "image", bytearray(b"P5 2 1 255\\n\\x00\\xff"))],
    "asset_id long, kind string, media binary")
row = extract_features(df, dims=2).collect()[0]
print("RESULT", row["decode_ok"], row["feature"], row["error"])
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_DRIVER_MEM="1g")
    proc = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                          env=env, capture_output=True, text=True,
                          timeout=300)
    assert "RESULT True [0.0, 1.0] None" in proc.stdout, \
        proc.stdout[-1000:] + proc.stderr[-3000:]


def test_pq_topk_recall_and_determinism(spark):
    """IVF+PQ+re-rank recall floor vs brute force on the real
    testdata, run-to-run determinism (deterministic sample + Lloyd
    init, no RNG anywhere), and the re-rank contract: every returned
    sim equals the EXACT cosine (rounded 6) — the ADC approximation
    never leaks into output values, only into pool membership."""
    from adsmasterpipeline_spark.operators.similarity import pq_topk
    from adsmasterpipeline_spark.sources import load_table
    e = load_table(spark, SF_DIR, "embeddings")
    q = e.where(F.col("vec_id") < 16)
    bf_rows = brute_force_topk(q, e, k=3).collect()
    bf = {(r["query_id"], r["neighbor_id"]) for r in bf_rows}
    exact_sim = {(r["query_id"], r["neighbor_id"]): r["sim"]
                 for r in brute_force_topk(q, e, k=200).collect()}
    a = pq_topk(q, e, k=3).collect()
    pq = {(r["query_id"], r["neighbor_id"]) for r in a}
    assert len(pq & bf) >= len(bf) * 0.5
    for r in a:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_sim:
            assert abs(r["sim"] - exact_sim[key]) < 1e-9
    b = pq_topk(q, e, k=3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_netpbm_p6_16bit_and_mask_ball_sizes():
    """Driver-less unit checks: 16-bit P6 RGB decodes via the
    big-endian path, and hamming_masks generalizes beyond distance 2
    (ball sizes = sum of C(planes, d))."""
    from adsmasterpipeline_spark.operators.multimodal import decode_image
    from adsmasterpipeline_spark.operators.similarity import hamming_masks

    # one pixel, channels (65535, 0, 0) -> gray 1/3
    p6w = b"P6 1 1 65535\n" + (65535).to_bytes(2, "big") + b"\x00" * 4
    f = decode_image(p6w, dims=1)
    assert abs(f[0] - 1 / 3) < 1e-12

    assert len(hamming_masks(8, 0)) == 1
    assert len(hamming_masks(8, 1)) == 9
    assert len(hamming_masks(8, 2)) == 37
    assert len(hamming_masks(8, 3)) == 37 + 56
    assert len(hamming_masks(3, 99)) == 8        # full ball, capped
    assert len(set(hamming_masks(8, 3))) == 93   # all distinct


def test_image_phash_neardup_planted(spark, tmp_path):
    """Planted image near-dups: an exact text duplicate renders an
    identical raster (hamming 0); a one-word edit renders a
    near-identical raster (low hamming); an unrelated doc pairs with
    neither. All payloads must really decode (decode_ok True for every
    asset — the netpbm path)."""
    from pyspark.sql import functions as F

    from adsmasterpipeline_spark.queries.scale_ops import (
        image_phash_neardup,
    )

    base = ("the quick brown fox jumps over the lazy dog again and "
            "again until the corpus fills with words " * 3)
    rows = [
        (1, base, "en", "web", len(base)),
        (2, base, "en", "web", len(base)),                  # exact dup
        (3, base.replace("lazy", "hazy", 1), "en", "web", len(base)),
        (4, "completely different content about spark plans and "
            "shuffles partitions exchanges joins aggregates windows "
            "and broadcast thresholds in the optimizer " * 3,
         "en", "web", 100),
        # short unrelated docs with identical word-length layout: below
        # the 128-char gate the raster rows 2-4 are all padding and the
        # hash would collapse to a space/non-space layout indicator —
        # these two would falsely collide at hamming 0. The gate must
        # exclude them from the image path entirely.
        (5, "cat dog ran far", "en", "web", 15),
        (6, "pig fox sat too", "en", "web", 15),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    sf = str(tmp_path / "phash")
    df.coalesce(1).write.parquet(sf + "/documents.parquet")
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in image_phash_neardup(spark, sf).collect()}
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs and pairs[(1, 3)] <= 3
    assert not any(4 in p for p in pairs)
    # the length gate keeps degenerate short docs out of the image path
    assert not any(5 in p or 6 in p for p in pairs)


def test_audio_fingerprint_neardup_planted(spark, tmp_path):
    """Planted audio near-dups through the REAL WAV round trip: an
    exact text duplicate is hamming 0; a small suffix edit stays
    within the hamming<=3 gate; an unrelated doc pairs with
    neither."""
    from adsmasterpipeline_spark.queries.scale_ops import (
        audio_fingerprint_neardup,
    )

    # build the near-dup from the NORMALIZED form (the query trims /
    # collapses whitespace before synthesis — a length change there
    # shifts every envelope-window boundary)
    base = ("table small sort order small hash stream data big key "
            "group fast join merge filter window batch row value " * 4
            ).strip()
    rows = [
        (1, base, "en", "web", len(base)),
        (2, base, "en", "web", len(base)),            # exact dup
        # same normalized length, last-window-local substitution (a
        # longer or shifted edit moves every window boundary and
        # exceeds the hamming gate — that selectivity is what keeps
        # doc 4 out below)
        (3, base[:-8] + "qqqqqqqq", "en", "web", len(base)),
        (4, "completely different text about optimizers exchanges "
            "partitions shuffles joins aggregates codegen stages "
            "broadcast thresholds and adaptive execution " * 4,
         "en", "web", 400),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    sf = str(tmp_path / "audiofp")
    df.coalesce(1).write.parquet(sf + "/documents.parquet")
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in audio_fingerprint_neardup(spark, sf).collect()}
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs and pairs[(1, 3)] <= 3
    assert not any(4 in p for p in pairs)


def test_video_phash_neardup_planted(spark, tmp_path):
    """Planted video near-dups through the REAL RAWV round trip: an
    exact text duplicate is hamming 0; a one-block edit inside one
    frame stays within the hamming<=3 gate; an unrelated doc pairs
    with neither; a short doc (< 4 frames) is excluded by the
    duration gate entirely."""
    from adsmasterpipeline_spark.queries.scale_ops import (
        video_phash_neardup,
    )

    base = ("table small sort order small hash stream data big key "
            "group fast join merge filter window batch row value " * 6
            ).strip()
    assert len(base) >= 256
    # flip 8 chars inside the third frame (byte offsets 128..192)
    edited = base[:150] + "qqqqqqqq" + base[158:]
    rows = [
        (1, base, "en", "web", len(base)),
        (2, base, "en", "web", len(base)),            # exact dup
        (3, edited, "en", "web", len(edited)),        # frame-local edit
        (4, "completely different text about optimizers exchanges "
            "partitions shuffles joins aggregates codegen stages "
            "broadcast thresholds and adaptive execution plans " * 6,
         "en", "web", 600),
        (5, "short clip", "en", "web", 10),           # below the gate
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    sf = str(tmp_path / "videofp")
    df.coalesce(1).write.parquet(sf + "/documents.parquet")
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in video_phash_neardup(spark, sf).collect()}
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs and pairs[(1, 3)] <= 3
    assert not any(4 in p or 5 in p for p in pairs)


def test_banded_hamming_first_match_equals_dedup_form(spark):
    """banded_hamming_pairs emits each colliding pair exactly once via
    its LOWEST agreeing band (first-match pairing); output must equal
    the reference dropDuplicates form on hashes engineered to collide
    in 1, 2, 3 and all 4 bands (hamming-0 twins collide everywhere —
    the old form emitted them 4x before the dedup exchange)."""
    from adsmasterpipeline_spark.operators.dedup import (
        banded_hamming_pairs)
    h = 0x1234_5678_9ABC_DEF0
    rows = [
        (1, h), (2, h),                      # hamming 0: all 4 bands agree
        (3, h ^ 0x1),                        # band 0 differs; 1-3 agree
        (4, h ^ 0x0001_0001_0001_0000),      # only band 0 agrees
        (5, h ^ (0x7 << 16)),                # band 1 differs; 0,2,3 agree
        (6, 0x0F0F_0F0F_0F0F_0F0F),          # unrelated
    ]
    sig = spark.createDataFrame(rows, "id long, hh long")
    new = banded_hamming_pairs(sig, "id", "hh", max_hamming=63)
    got = sorted(map(tuple, new.collect()))

    # reference: emit per agreeing band, then dedup
    from pyspark.sql import functions as F
    banded = sig.select(
        "id", "hh",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.shiftright("hh", b * 16)
                     .bitwiseAND(F.lit(0xFFFF)).alias("bucket"))
            for b in range(4)])).alias("_b"),
    ).select("id", "hh", "_b.band", "_b.bucket")
    a, b = banded.alias("a"), banded.alias("b")
    hamming = F.bit_count(F.col("a.hh").bitwiseXOR(F.col("b.hh")))
    ref = (a.join(b, (F.col("a.band") == F.col("b.band"))
                  & (F.col("a.bucket") == F.col("b.bucket"))
                  & (F.col("a.id") < F.col("b.id")))
           .select(F.col("a.id").alias("id_a"),
                   F.col("b.id").alias("id_b"), hamming.alias("hamming"))
           .where(F.col("hamming") <= 63)
           .dropDuplicates(["id_a", "id_b", "hamming"]))
    assert got == sorted(map(tuple, ref.collect()))
    # multiplicity: the hamming-0 twin appears exactly once
    assert [g for g in got if g[:2] == (1, 2)] == [(1, 2, 0)]


def test_banded_hamming_repeated_signature_row_pairs_once(spark):
    """A signature table that repeats one (id, hash) row still emits
    each near-dup pair once: the repeated row is collapsed before the
    band self-join, whose first-match pairing otherwise emits a pair
    once per row pair."""
    from adsmasterpipeline_spark.operators.dedup import (
        banded_hamming_pairs)
    h = 0x1234_5678_9ABC_DEF0
    rows = [(1, h), (1, h), (2, h ^ 0x1), (3, h ^ 0x3), (3, h ^ 0x3),
            (4, 0x0F0F_0F0F_0F0F_0F0F)]
    sig = spark.createDataFrame(rows, "id long, hh long")
    got = sorted(map(tuple, banded_hamming_pairs(
        sig, "id", "hh", max_hamming=3).collect()))
    assert got == [(1, 2, 1), (1, 3, 2), (2, 3, 1)]


def test_hadamard_bucket_vectorized_dirty_vectors(spark):
    """ADVICE r6: embeddings containing null/NaN/inf components must
    not hit np.floor(non-finite).astype(int64) — platform-defined
    garbage the JVM fold can't reproduce. Contract: a vector with any
    non-finite component gets a NULL bucket (excluded from the bucket
    join, like whole-null vectors); clean vectors in the same batch
    are unaffected."""
    from adsmasterpipeline_spark.operators.similarity import (
        hadamard_bucket_vectorized)

    rows = [
        (1, [1.0] * 8),
        (2, [1.0, None, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0]),
        (3, [float("nan")] * 8),
        (4, [float("inf"), 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0]),
        (5, None),
        (6, [-1.0] * 8),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    bkt = hadamard_bucket_vectorized(4)
    got = {r["vec_id"]: r["b"] for r in
           df.select("vec_id",
                     bkt(F.col("embedding")).alias("b")).collect()}
    assert got[1] is not None and got[6] is not None
    assert got[2] is None and got[3] is None and got[4] is None
    assert got[5] is None
