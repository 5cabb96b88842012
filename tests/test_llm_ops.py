"""Unit tests: LLM-data-pipeline operators — dedup family semantics,
MinHash ≈ Jaccard property, ANN recall vs brute force, multimodal
mapInPandas plumbing."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from polygon_daily_market_data_pipeline_spark.functions.text import lang_id, quality_score
from polygon_daily_market_data_pipeline_spark.operators import multimodal
from polygon_daily_market_data_pipeline_spark.operators.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
    cosine_topk_pandas,
)
from polygon_daily_market_data_pipeline_spark.operators.text_dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_fingerprints,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "THE  quick   Brown fox jumps over the lazy dog near the river bank"),  # exact dup after norm
    (3, "the quick brown fox jumps over the lazy dog near the river shore"),   # near dup
    (4, "completely different content about spark query engines and shuffles"),
    (5, "tiny"),  # < 3 tokens → no shingles
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup_normalizes(spark):
    out = exact_dedup(_docs(spark), "doc_id", "text").collect()
    groups = {r["canonical_id"]: r["n_dups"] for r in out}
    assert groups[1] == 2          # docs 1+2 same fingerprint, min id canon
    assert groups[3] == 1 and groups[4] == 1 and groups[5] == 1


def test_jaccard_and_lsh_agree(spark):
    docs = _docs(spark)
    exact = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard"], 6)
        for r in jaccard_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard"], 6)
        for r in minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    }
    assert (1, 2) in exact and exact[(1, 2)] == 1.0   # identical shingle sets
    assert (1, 3) in exact and 0.5 <= exact[(1, 3)] < 1.0
    assert exact == lsh                                # LSH recall 1 here
    assert all(a < b for a, b in exact)                # canonical pair order


def test_simhash_similar_docs_close(spark):
    out = {r["doc_id"]: r["simhash"] for r in
           simhash_fingerprints(_docs(spark), "doc_id", "text").collect()}
    assert out[1] == out[2]  # identical shingle sets → identical simhash
    ham_13 = bin(out[1] ^ out[3]).count("1")
    ham_14 = bin(out[1] ^ out[4]).count("1")
    assert ham_13 < ham_14   # near-dup closer than unrelated doc
    assert 5 not in out      # no shingles → no fingerprint


def test_lang_id_and_quality(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog went to the market in the morning"),
            (2, "el gato y la casa es un lugar que en la manana"),
            (3, "xyzzy plugh qwerty"),  # no stopwords → und
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in df.select(
        "doc_id", lang_id("text").alias("lang"), quality_score("text").alias("q")
    ).collect()}
    assert out[1]["lang"] == "en"
    assert out[2]["lang"] == "es"
    assert out[3]["lang"] == "und"
    assert out[1]["q"] > out[3]["q"]


def test_ann_recall_vs_bruteforce(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where("vec_id < 30")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_bruteforce(emb, queries, k=3).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_lsh(emb, queries, k=3).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.7, f"LSH recall {recall} collapsed"  # 3 planes × 12 tables


def test_pandas_kernel_matches_codegen_kernel(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where("vec_id < 10")
    a = {(r["query_id"], r["rank"]): r["neighbor_id"]
         for r in cosine_topk_bruteforce(emb, queries, k=3).collect()}
    b = {(r["query_id"], r["rank"]): r["neighbor_id"]
         for r in cosine_topk_pandas(emb, queries, k=3).collect()}
    assert a == b


def test_multimodal_plumbing(spark):
    rows = [
        Row(media_id=1, kind="image", mime="image/png", width=8, height=8,
            duration_ms=None, content=bytes(range(64))),
        Row(media_id=2, kind="video", mime="video/mp4", width=16, height=16,
            duration_ms=3500, content=b"\x00fakevideo" * 10),
        Row(media_id=3, kind="image", mime="image/png", width=1, height=1,
            duration_ms=None, content=b""),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)

    feats = {r["media_id"]: r for r in
             multimodal.extract_image_features(media).collect()}
    assert set(feats) == {1, 3}
    assert feats[1]["n_bytes"] == 64
    assert abs(feats[1]["mean_byte"] - 31.5) < 1e-9
    assert abs(feats[1]["byte_entropy"] - 6.0) < 1e-9  # 64 distinct bytes
    assert feats[3]["n_bytes"] == 0 and feats[3]["byte_entropy"] == 0.0

    frames = multimodal.sample_video_frames(media, every_ms=1000).collect()
    assert [f["frame_ms"] for f in frames] == [0, 1000, 2000, 3000]
    assert len({f["frame_sig"] for f in frames}) == 4  # per-frame sigs differ

    import pytest

    with pytest.raises(NotImplementedError):
        multimodal.extract_image_features(media, decoder="pillow")


def test_embedding_neardup_lsh_recall(spark):
    from polygon_daily_market_data_pipeline_spark.operators.similarity import (
        embedding_neardup_pairs,
        embedding_neardup_pairs_lsh,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    exact = {
        (r.id_a, r.id_b) for r in embedding_neardup_pairs(emb, 0.45).collect()
    }
    approx = {
        (r.id_a, r.id_b) for r in embedding_neardup_pairs_lsh(emb, 0.45).collect()
    }
    assert approx <= exact  # verify step admits no false positives
    assert len(exact) > 0
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.85, f"LSH recall {recall:.2f} below floor"


def test_salted_join_matches_plain_join(spark):
    from polygon_daily_market_data_pipeline_spark.operators.skew import salted_join

    # skewed big side: one hot key with 900 rows, tail of 100 keys
    big = spark.createDataFrame(
        [(1, i) for i in range(900)] + [(k, k) for k in range(2, 102)],
        "k long, payload long",
    )
    small = spark.createDataFrame([(k, f"v{k}") for k in range(1, 102)], "k long, v string")
    got = sorted(salted_join(big, small, ["k"], n_salts=4).collect())
    want = sorted(big.join(small, "k").collect())
    assert got == want


def test_ivf_topk_recall(spark):
    from polygon_daily_market_data_pipeline_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.where("vec_id < 50")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_bruteforce(emb, q, k=3).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_ivf(emb, q, k=3, n_clusters=16, n_probe=6).collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.7, f"IVF recall {recall:.2f} below floor"


def test_connected_components_chain_and_clique(spark):
    from polygon_daily_market_data_pipeline_spark.operators.graph import (
        connected_components,
    )

    # chain 1-2-3-4 (diameter > 1 forces multiple rounds), clique 10-11-12,
    # isolated edge 20-21
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "src long, dst long",
    )
    got = {
        (r.node, r.component) for r in connected_components(edges).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    }


def test_line_dedup_boilerplate_removal(spark):
    """C4-style line dedup: cross-doc repeated lines drop from EVERY
    doc, short lines are exempt, order is preserved on reassembly,
    within-doc repeats alone don't trigger (distinct-DOC counting),
    docs left empty disappear, and min_docs bounds the floor."""
    from polygon_daily_market_data_pipeline_spark.operators.text_dedup import (
        line_dedup,
    )

    df = spark.createDataFrame(
        [
            (1, "first unique line\nSHARED FOOTER LINE HERE\nok\nlast unique line"),
            (2, "SHARED FOOTER LINE HERE\nmiddle only here\nok"),
            (3, "repeated inside doc\nrepeated inside doc\ntail here x"),
            (4, "SHARED FOOTER LINE HERE"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.text, r.n_lines)
        for r in line_dedup(df, min_docs=2, min_line_chars=10).collect()
    }
    # shared footer dropped everywhere; short 'ok' exempt; order kept
    assert got[1] == ("first unique line\nok\nlast unique line", 3)
    assert got[2] == ("middle only here\nok", 2)
    # within-doc repetition is NOT cross-doc boilerplate
    assert got[3] == (
        "repeated inside doc\nrepeated inside doc\ntail here x",
        3,
    )
    # a doc that was ALL boilerplate disappears
    assert 4 not in got
    # min_docs=3: the footer (2 docs... actually 3 docs) still drops,
    # raise the floor past its df and everything survives
    all_kept = {
        r.doc_id: r.n_lines
        for r in line_dedup(df, min_docs=4, min_line_chars=10).collect()
    }
    assert all_kept == {1: 4, 2: 3, 3: 3, 4: 1}


def test_neardup_clusters_split_is_leak_free(spark):
    """The registered cluster query's split column must be a pure
    function of cluster_id: every doc in a cluster shares the split, so
    no near-dup PAIR straddles train/val/test — the contamination mode
    per-doc splitting invites — and the label equals the md5 split of
    the cluster id (what the DuckDB oracle recomputes)."""
    from polygon_daily_market_data_pipeline_spark.operators.sampling import (
        hex_threshold,
    )
    from polygon_daily_market_data_pipeline_spark.plans.llm_ops import (
        neardup_clusters,
    )

    rows = neardup_clusters(spark, "/root/testdata/sf0.001").collect()
    assert rows, "testdata plants near-dup pairs; clusters expected"
    by_cluster: dict = {}
    t1, t2 = hex_threshold(0.8), hex_threshold(0.9)
    import hashlib

    for r in rows:
        by_cluster.setdefault(r.cluster_id, set()).add(r.split)
        h = hashlib.md5(str(r.cluster_id).encode()).hexdigest()
        want = "train" if h < t1 else ("val" if h < t2 else "test")
        assert r.split == want, (r.doc_id, r.cluster_id, r.split, want)
    assert all(len(s) == 1 for s in by_cluster.values()), {
        c: s for c, s in by_cluster.items() if len(s) > 1
    }


def test_parse_image_header_real_formats():
    """decoder='headers' is a REAL decode: exact dimensions out of
    spec-conformant PNG/GIF/BMP/JPEG headers, None for non-images."""
    import struct
    import zlib

    from polygon_daily_market_data_pipeline_spark.operators.multimodal import (
        parse_image_header,
    )

    # minimal valid PNG: signature + IHDR(640x480)
    ihdr = struct.pack(">IIBBBBB", 640, 480, 8, 2, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR" + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
    )
    assert parse_image_header(png) == ("png", 640, 480)
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 5
    assert parse_image_header(gif) == ("gif", 320, 200)
    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 123, -77) + b"\x00" * 8
    assert parse_image_header(bmp) == ("bmp", 123, 77)  # top-down DIB abs()
    # JPEG: SOI, APP0 segment, DHT (non-frame C4 must be skipped), SOF0
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 4) + b"JF"
        + b"\xff\xc4" + struct.pack(">H", 4) + b"\x00\x00"
        + b"\xff\xc0" + struct.pack(">H", 8) + b"\x08"
        + struct.pack(">HH", 480, 640) + b"\x03"
    )
    assert parse_image_header(jpeg) == ("jpeg", 640, 480)
    assert parse_image_header(b"plain text") == (None, None, None)
    assert parse_image_header(b"") == (None, None, None)
    assert parse_image_header(b"\x89PNG\r\n\x1a\n\x00\x00") == (None, None, None)


def test_extract_image_features_headers_decoder(spark):
    """The headers decoder flows real dimensions through the Arrow batch
    into typed columns; non-image payloads degrade to NULLs."""
    import struct
    import zlib

    ihdr = struct.pack(">IIBBBBB", 64, 32, 8, 2, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR" + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
    )
    media = spark.createDataFrame(
        [
            (1, "image", "image/png", None, None, None, bytearray(png)),
            (2, "image", "text/plain", None, None, None, bytearray(b"not an image")),
            (3, "video", "video/mp4", None, None, 5000, bytearray(b"zz")),
        ],
        multimodal.MEDIA_SCHEMA,
    )
    out = {
        r["media_id"]: r
        for r in multimodal.extract_image_features(media, decoder="headers").collect()
    }
    assert set(out) == {1, 2}  # kind='image' only
    assert (out[1]["format"], out[1]["width"], out[1]["height"]) == ("png", 64, 32)
    assert out[1]["n_bytes"] == len(png)
    assert (out[2]["format"], out[2]["width"], out[2]["height"]) == (None, None, None)


def test_embedding_neardup_blocked_equals_collect_exact(spark):
    """The distributed block-pair plan is value-identical to the
    driver-collect exact kernel (which stays test-only), across every
    block-count regime: B > n, B = 1 (single diagonal block), and the
    mixed diagonal/off-diagonal middle."""
    import numpy as np

    from polygon_daily_market_data_pipeline_spark.operators.similarity import (
        embedding_neardup_pairs,
        embedding_neardup_pairs_blocked,
    )

    rng = np.random.RandomState(7)
    base = rng.randn(30, 16)
    base[11] = base[3] * 1.7            # exact direction dup → cos 1
    base[22] = base[5] + 0.05 * rng.randn(16)  # near dup
    rows = [(i, [float(x) for x in base[i]]) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def canon(df):
        return sorted(
            (r["id_a"], r["id_b"], round(r["cos"], 9)) for r in df.collect()
        )

    expected = canon(embedding_neardup_pairs(emb, threshold=0.8))
    assert len(expected) >= 2
    for b in (1, 4, 64):
        got = canon(embedding_neardup_pairs_blocked(emb, threshold=0.8, n_blocks=b))
        assert got == expected, f"n_blocks={b}"


def test_jaccard_df_cap_is_lossless_for_values(spark):
    """df_cap prunes CANDIDATES only; the verify runs on full shingle
    sets, so any emitted pair carries the exact uncapped Jaccard. With a
    cap of 1 on this corpus (docs 1/2/3 share hot shingles with df 2-3),
    pairs may drop but no surviving value may change."""
    docs = _docs(spark)
    exact = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
        for r in jaccard_pairs(docs, "doc_id", "text", threshold=0.1, df_cap=None).collect()
    }
    assert (1, 2) in exact and exact[(1, 2)] == 1.0
    capped = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
        for r in jaccard_pairs(docs, "doc_id", "text", threshold=0.1, df_cap=1).collect()
    }
    for pair, j in capped.items():
        assert exact[pair] == j  # never a rescaled/undercounted value
    # and a generous cap is fully lossless on recall too
    roomy = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
        for r in jaccard_pairs(docs, "doc_id", "text", threshold=0.1, df_cap=100).collect()
    }
    assert roomy == exact


def test_jaccard_prefix_filter_equals_exhaustive(spark):
    """The prefix-filtered plan (round 17, VERDICT r16 #6) must return
    EXACTLY the exhaustive pair set — candidates are provably
    recall-complete (the smallest common shingle lands in both docs'
    prefixes) and the verify recomputes |A∩B| over full postings. The
    corpus includes hot shared shingles (df 2-3 across docs 1/2/3), the
    class the df-ascending prefix order pushes out of the self-join,
    and several thresholds exercise the integer ceil(t·n) prefix cut."""
    docs = _docs(spark)
    for t in (0.1, 0.34, 0.5, 0.9):
        exact = {
            (r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
            for r in jaccard_pairs(
                docs, "doc_id", "text", threshold=t
            ).collect()
        }
        pref = {
            (r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
            for r in jaccard_pairs(
                docs, "doc_id", "text", threshold=t, prefix_filter=True
            ).collect()
        }
        assert pref == exact, f"threshold={t}"
    import pytest

    with pytest.raises(ValueError):
        jaccard_pairs(
            docs, "doc_id", "text", threshold=0.5, df_cap=1,
            prefix_filter=True,
        )


def test_prefix_fraction_never_exceeds_the_float_threshold():
    """The prefix cut's t is a fraction AT OR BELOW the float threshold:
    Fraction(str(0.3)) = 3/10 lies above the float 0.29999999999999998…
    and would shorten prefixes. Numerator and denominator stay ≤ 10⁹ so
    ``n·p`` fits a long."""
    from fractions import Fraction

    from polygon_daily_market_data_pipeline_spark.operators.text_dedup import (
        _prefix_fraction,
    )

    assert Fraction(str(0.3)) > Fraction(0.3)
    for t in (0.3, 0.1, 0.34, 0.5, 0.7, 0.9, 1.0):
        frac = _prefix_fraction(t)
        assert frac <= Fraction(t), t
        assert Fraction(t) - frac < Fraction(1, 10**9), t
        assert frac.numerator <= 10**9 and frac.denominator <= 10**9, t
    assert _prefix_fraction(0.5) == Fraction(1, 2)


def test_jpeg_marker_walk_handles_fill_bytes_and_eoi():
    """Spec-legal 0xFF fill/padding bytes before a marker must be
    skipped, and EOI (0xD9) carries no length — a padded JPEG decodes
    its SOF, and an SOF-less JPEG terminates cleanly at EOI instead of
    reading a bogus seg_len out of entropy-coded data."""
    import struct

    from polygon_daily_market_data_pipeline_spark.operators.multimodal import (
        parse_image_header,
    )

    padded = (
        b"\xff\xd8"
        + b"\xff\xff\xff\xe0" + struct.pack(">H", 4) + b"JF"  # 2 fill bytes
        + b"\xff\xff\xc0" + struct.pack(">H", 8) + b"\x08"    # 1 fill byte
        + struct.pack(">HH", 120, 240) + b"\x03"
    )
    assert parse_image_header(padded) == ("jpeg", 240, 120)
    no_sof = (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 4) + b"JF"
        + b"\xff\xd9"          # EOI — then entropy-looking garbage
        + b"\xff\x00\x12\x34" * 4
    )
    assert parse_image_header(no_sof) == (None, None, None)


def test_parse_audio_header_real_formats():
    """decoder='headers' for audio is a REAL decode: exact sample rate /
    channels / bit depth / duration out of spec-conformant WAV and AIFF
    containers (AIFF's 80-bit extended-float sample rate decoded by
    hand), None for non-audio."""
    import struct

    from polygon_daily_market_data_pipeline_spark.operators.multimodal import (
        parse_audio_header,
    )

    fmt = struct.pack("<HHIIHH", 1, 2, 44100, 44100 * 2 * 2, 4, 16)
    data = b"\x00" * (44100 * 4 // 10)  # 100 ms of 16-bit stereo
    wav = (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # odd size pads
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    assert parse_audio_header(wav) == ("wav", 44100, 2, 16, 100)

    # AIFF: 48 kHz as 80-bit extended float = (exp 16398, mant 48000<<48)
    comm = struct.pack(">hIh", 1, 4800, 24) + struct.pack(">HQ", 16398, 48000 << 48)
    aiff = (
        b"FORM" + struct.pack(">I", 4 + 8 + len(comm)) + b"AIFF"
        + b"COMM" + struct.pack(">I", len(comm)) + comm
    )
    assert parse_audio_header(aiff) == ("aiff", 48000, 1, 24, 100)

    assert parse_audio_header(b"plain text") == (None, None, None, None, None)
    assert parse_audio_header(b"") == (None, None, None, None, None)
    assert parse_audio_header(b"RIFF\x00\x00\x00\x00WAVE") == (
        None, None, None, None, None)  # no fmt chunk


def test_extract_audio_features_headers_decoder(spark):
    """The audio headers decoder flows real container metadata through
    the Arrow batch into typed columns; non-audio payloads degrade to
    NULLs; the librosa full-decode path stays an import-guarded stub."""
    import struct

    import pytest

    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    data = b"\x7f" * 800  # 100 ms of 8-bit mono
    wav = (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    media = spark.createDataFrame(
        [
            (1, "audio", "audio/wav", None, None, None, bytearray(wav)),
            (2, "audio", "text/plain", None, None, None, bytearray(b"not audio")),
            (3, "image", "image/png", None, None, None, bytearray(b"zz")),
        ],
        multimodal.MEDIA_SCHEMA,
    )
    out = {
        r["media_id"]: r
        for r in multimodal.extract_audio_features(media, decoder="headers").collect()
    }
    assert set(out) == {1, 2}  # kind='audio' only
    r1 = out[1]
    assert (r1["format"], r1["sample_rate"], r1["channels"], r1["bit_depth"],
            r1["decoded_ms"]) == ("wav", 8000, 1, 8, 100)
    assert r1["n_bytes"] == len(wav)
    assert out[2]["format"] is None and out[2]["sample_rate"] is None
    with pytest.raises(NotImplementedError):
        multimodal.extract_audio_features(media, decoder="librosa")


def _pcm16_wav(n_frames=1600, rate=16000, amp=16384) -> bytes:
    """Deterministic 16-bit mono PCM WAV built with stdlib ``wave``: a
    ±amp square wave, whose RMS is exactly amp/32768."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(
            b"".join(
                struct.pack("<h", amp if i % 2 == 0 else -amp)
                for i in range(n_frames)
            )
        )
    return buf.getvalue()


def test_decode_wav_pcm_real_samples():
    """decode_wav_pcm is a REAL full-sample decode (stdlib wave, no
    external deps): frame count and duration come from the decoded
    frames, RMS from the samples — exact on a synthetic square wave;
    non-WAV and truncated blobs return None instead of raising."""
    from polygon_daily_market_data_pipeline_spark.operators.multimodal import (
        decode_wav_pcm,
        parse_audio_header,
    )

    wav = _pcm16_wav()
    got = decode_wav_pcm(wav)
    assert got is not None
    n_frames, rms, dur_ms = got
    assert n_frames == 1600
    assert abs(rms - 0.5) < 1e-12  # ±16384 square wave / 32768
    assert dur_ms == 100
    # frame-count duration agrees with the header's byte-math duration
    assert parse_audio_header(wav)[4] == dur_ms
    assert decode_wav_pcm(b"not audio") is None
    assert decode_wav_pcm(wav[:40]) is None  # truncated header
    assert decode_wav_pcm(b"") is None


def test_extract_audio_features_decodes_pcm_samples(spark):
    """The headers decoder also runs the stdlib-wave FULL PCM decode for
    WAV blobs: pcm_frames/pcm_rms are real decoded-sample stats, NULL
    for non-WAV payloads, and every header field is unchanged by the
    added decode."""
    wav = _pcm16_wav()
    media = spark.createDataFrame(
        [
            (1, "audio", "audio/wav", None, None, None, bytearray(wav)),
            (2, "audio", "text/plain", None, None, None, bytearray(b"not audio")),
        ],
        multimodal.MEDIA_SCHEMA,
    )
    out = {
        r["media_id"]: r
        for r in multimodal.extract_audio_features(media, decoder="headers").collect()
    }
    r1 = out[1]
    assert (r1["format"], r1["sample_rate"], r1["channels"], r1["bit_depth"]) == (
        "wav", 16000, 1, 16
    )
    assert r1["pcm_frames"] == 1600
    assert abs(r1["pcm_rms"] - 0.5) < 1e-12
    assert r1["decoded_ms"] == 100
    assert out[2]["pcm_frames"] is None and out[2]["pcm_rms"] is None
    # the fake decoder never decodes samples
    fake = {
        r["media_id"]: r
        for r in multimodal.extract_audio_features(media, decoder="fake").collect()
    }
    assert fake[1]["pcm_frames"] is None and fake[1]["pcm_rms"] is None


def test_ann_audit_sample_every_is_deterministic_slice(spark):
    """sample_every=N audits the SQL-portable multiplicative-hash
    query slice (_audit_slice): deterministic across runs, strictly
    smaller query set, same gate schema (the production-scale audit
    mode from SCALE.md)."""
    from polygon_daily_market_data_pipeline_spark.plans.llm_ops import (
        embedding_ann_lsh,
    )

    sf = "/root/testdata/sf0.01"
    full = embedding_ann_lsh(spark, sf).collect()[0]
    a = embedding_ann_lsh(spark, sf, sample_every=4).collect()[0]
    b = embedding_ann_lsh(spark, sf, sample_every=4).collect()[0]
    assert a == b  # deterministic
    assert 0 < a["n_queries"] < full["n_queries"]
    assert isinstance(a["mean_recall_floor"], bool)


def test_parse_video_header_real_formats():
    """decoder='headers' for video is a REAL decode: exact dimensions /
    duration / track count out of spec-conformant MP4 (ISO-BMFF box
    walk, 16.16 fixed-point tkhd dims, v0 and v1 mvhd) and AVI (avih
    main header) containers, None for non-video."""
    import struct

    from polygon_daily_market_data_pipeline_spark.operators.multimodal import (
        parse_video_header,
    )

    def box(btype: bytes, body: bytes) -> bytes:
        return struct.pack(">I", 8 + len(body)) + btype + body

    ftyp = box(b"ftyp", b"isom" + b"\x00" * 4)
    # mvhd v0: timescale 1000, duration 3500 → 3500 ms
    mvhd = box(b"mvhd", b"\x00" * 12 + struct.pack(">II", 1000, 3500) + b"\x00" * 80)
    # tkhd v0: 84-byte body ending in 16.16 fixed-point width/height
    tkhd = box(b"tkhd", b"\x00" * 76 + struct.pack(">II", 640 << 16, 360 << 16))
    trak1 = box(b"trak", tkhd)
    trak2 = box(b"trak", box(b"tkhd", b"\x00" * 84))  # zero dims — counted only
    mp4 = ftyp + box(b"moov", mvhd + trak1 + trak2)
    assert parse_video_header(mp4) == ("mp4", 640, 360, 3500, 2)

    # mvhd v1: 64-bit duration (timescale 600, duration 1200 → 2000 ms)
    mvhd_v1 = box(
        b"mvhd",
        b"\x01" + b"\x00" * 19 + struct.pack(">I", 600) + struct.pack(">Q", 1200),
    )
    mp4_v1 = ftyp + box(b"moov", mvhd_v1)
    assert parse_video_header(mp4_v1) == ("mp4", None, None, 2000, None)

    # AVI: 25 fps × 250 frames → 10000 ms, 2 streams, 320×240
    avih = b"avih" + struct.pack("<I", 56) + struct.pack(
        "<14I", 40000, 0, 0, 0, 250, 0, 2, 0, 320, 240, 0, 0, 0, 0
    )
    hdrl = b"LIST" + struct.pack("<I", 4 + len(avih)) + b"hdrl" + avih
    avi = b"RIFF" + struct.pack("<I", 4 + len(hdrl)) + b"AVI " + hdrl
    assert parse_video_header(avi) == ("avi", 320, 240, 10000, 2)

    assert parse_video_header(b"plain text") == (None,) * 5
    assert parse_video_header(b"") == (None,) * 5
    # truncated mid-box: degrades, never raises
    assert parse_video_header(mp4[:20]) == ("mp4", None, None, None, None)


def test_sample_video_frames_headers_decoder(spark):
    """The video headers decoder drives the sampling cadence from the
    container's OWN mvhd duration when the blob parses; non-container
    blobs fall back to the metadata duration (so the synthetic-blob
    oracle is unchanged); the pyav full-decode path stays an
    import-guarded stub."""
    import struct

    import pytest

    from polygon_daily_market_data_pipeline_spark.operators import multimodal

    def box(btype: bytes, body: bytes) -> bytes:
        return struct.pack(">I", 8 + len(body)) + btype + body

    mvhd = box(b"mvhd", b"\x00" * 12 + struct.pack(">II", 1000, 3500) + b"\x00" * 80)
    mp4 = box(b"ftyp", b"isom" + b"\x00" * 4) + box(b"moov", mvhd)
    media = spark.createDataFrame(
        [
            (1, "video", "video/mp4", None, None, 1000, bytearray(mp4)),
            (2, "video", "text/plain", None, None, 2000, bytearray(b"not a video")),
            (3, "audio", "audio/wav", None, None, 9000, bytearray(b"zz")),
        ],
        multimodal.MEDIA_SCHEMA,
    )
    out = multimodal.sample_video_frames(media, every_ms=1000, decoder="headers")
    frames = {(r["media_id"], r["frame_ms"]) for r in out.collect()}
    # media 1: real mvhd duration 3500 ms wins over metadata 1000 ms
    assert {(m, ms) for m, ms in frames if m == 1} == {(1, 0), (1, 1000), (1, 2000), (1, 3000)}
    # media 2: unparseable blob falls back to metadata duration 2000 ms
    assert {(m, ms) for m, ms in frames if m == 2} == {(2, 0), (2, 1000)}
    assert not any(m == 3 for m, _ in frames)  # kind='video' only
    with pytest.raises(NotImplementedError):
        multimodal.sample_video_frames(media, decoder="pyav")

    # mvhd duration 0 means "unknown" (e.g. fragmented MP4): fall back
    # to the metadata duration instead of collapsing to one frame at 0
    mvhd0 = box(b"mvhd", b"\x00" * 12 + struct.pack(">II", 1000, 0) + b"\x00" * 80)
    mp4_0 = box(b"ftyp", b"isom" + b"\x00" * 4) + box(b"moov", mvhd0)
    media0 = spark.createDataFrame(
        [(9, "video", "video/mp4", None, None, 3000, bytearray(mp4_0))],
        multimodal.MEDIA_SCHEMA,
    )
    out0 = multimodal.sample_video_frames(media0, every_ms=1000, decoder="headers")
    assert {r["frame_ms"] for r in out0.collect()} == {0, 1000, 2000}


def test_pack_sequences(spark):
    """Sequence packing: every chunk lands in exactly one packed row,
    no row exceeds the token budget unless a single chunk does, and the
    output is byte-deterministic per seed."""
    from polygon_daily_market_data_pipeline_spark.operators.export import (
        pack_sequences,
    )

    chunks = spark.createDataFrame(
        [(i, f"chunk-{i} " + "tok " * (10 + i % 37), 10 + i % 37) for i in range(300)]
        + [(999, "giant " * 500, 500)],  # single chunk over budget
        "chunk_id long, chunk_text string, n_tokens long",
    )
    packed = pack_sequences(chunks, target_tokens=120).collect()

    # conservation: every chunk appears exactly once across sequences
    import re

    seen = [
        int(m)
        for r in packed
        for m in re.findall(r"chunk-(\d+) ", r.text)
    ] + [999 for r in packed if "giant" in r.text]
    assert sorted(seen) == list(range(300)) + [999]

    # budget: only the oversized singleton may exceed it
    for r in packed:
        assert r.n_tokens <= 120 or (r.n_chunks == 1 and "giant" in r.text)
    # packing efficiency: bins are mostly full (greedy ≥ 50% trivially,
    # expect much better on mixed sizes)
    import statistics

    fills = [r.n_tokens / 120 for r in packed if "giant" not in r.text]
    assert statistics.mean(fills) > 0.7

    # determinism per seed
    again = pack_sequences(chunks, target_tokens=120).collect()
    assert sorted((r.seq_id, r.text) for r in packed) == sorted(
        (r.seq_id, r.text) for r in again
    )
    # different seed → different mix
    other = pack_sequences(chunks, target_tokens=120, seed=7).collect()
    assert sorted((r.seq_id, r.text) for r in packed) != sorted(
        (r.seq_id, r.text) for r in other
    )


def test_jaccard_registered_query_releases_per_call_caches(spark):
    """The df_cap plan persists two per-call frames (postings +
    survivors); ``unpersist_after_action`` must release both before the
    query returns, leaving only the intentional caches: the shared
    shingle index and the materialized output-sized result (exposed as
    ``_cached_inputs`` so terminal consumers can free it too)."""
    from polygon_daily_market_data_pipeline_spark.operators.text_dedup import jaccard_pairs
    from polygon_daily_market_data_pipeline_spark.sources.tables import load_table

    sc = spark.sparkContext
    for rdd in dict(sc._jsc.getPersistentRDDs()).values():
        rdd.unpersist()
    assert len(dict(sc._jsc.getPersistentRDDs())) == 0

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = jaccard_pairs(docs, "doc_id", "text", threshold=0.5, df_cap=100)
    out.collect()  # the driver's action

    live = dict(sc._jsc.getPersistentRDDs())
    assert len(live) <= 2, f"leftover per-call caches: {live}"

    # terminal consumers can free the result cache through the hook
    for f in out._cached_inputs:
        f.unpersist(blocking=True)
    assert len(dict(sc._jsc.getPersistentRDDs())) <= 1  # shingle index only


def test_ivf_assign_matches_numpy_and_serving_cells(spark):
    """Assign-only IVF maintenance: ivf_assign against frozen centroids
    must reproduce the exact numpy nearest-centroid argmin and distance
    for every vector — the same cells cosine_topk_ivf's inverted index
    uses, so assigned rows append directly to the serving index."""
    import numpy as np

    from polygon_daily_market_data_pipeline_spark.operators.similarity import (
        ivf_assign,
        kmeans_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = kmeans_centroids(emb, k=8)
    got = {r.vec_id: (r.cell, r.dist) for r in ivf_assign(emb, cents).collect()}
    ref = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in emb.collect()
    }
    assert set(got) == set(ref)
    for vid, v in ref.items():
        d = ((cents - v[None, :]) ** 2).sum(axis=1)
        cell, dist = int(d.argmin()), float(np.sqrt(d.min()))
        assert got[vid][0] == cell, vid
        assert abs(got[vid][1] - dist) < 1e-9, vid


def test_ivf_drift_ratio_signals_distribution_shift(spark):
    """The drift metric is ~1 for a batch drawn from the trained
    distribution and well above the retrain threshold for a shifted
    batch (every embedding displaced by a constant offset several times
    the trained quantization error)."""
    from pyspark.sql import functions as F

    from polygon_daily_market_data_pipeline_spark.operators.similarity import (
        ivf_drift_ratio,
        kmeans_centroids,
        mean_assign_distance,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = kmeans_centroids(emb, k=8)
    train_mean = mean_assign_distance(emb, cents)
    assert train_mean > 0
    # same-distribution batch (a deterministic half of the corpus)
    same = emb.where(F.col("vec_id") % 2 == 0)
    r_same = ivf_drift_ratio(same, cents, train_mean)
    assert 0.5 < r_same < 1.5, r_same
    # shifted batch: displace every vector by 4× the trained mean error
    # along the first dimension — quantization error must blow up
    shifted = emb.select(
        "vec_id",
        F.expr(
            f"transform(embedding, (x, i) -> CAST(x + IF(i = 0, {4 * train_mean}, 0.0) AS FLOAT))"
        ).alias("embedding"),
    )
    r_shift = ivf_drift_ratio(shifted, cents, train_mean)
    assert r_shift > 1.5, r_shift
    import pytest

    with pytest.raises(ValueError):
        ivf_drift_ratio(same, cents, 0.0)


def test_decontamination_ngram_overlap(spark):
    """Benchmark decontamination: a training doc sharing one 8-word
    gram with any eval doc is dropped; docs without overlap — including
    ones sharing shorter runs — are kept; eval docs contaminate
    themselves; sub-8-token docs can never match; hit counts tally
    gram occurrences."""
    from polygon_daily_market_data_pipeline_spark.operators.decontam import (
        contamination_hits,
        decontaminate,
        eval_ngram_set,
    )

    leak = "alpha bravo charlie delta echo foxtrot golf hotel"
    docs = spark.createDataFrame(
        [
            (1, f"intro words then {leak} and trailing content here"),
            (2, "alpha bravo charlie delta echo foxtrot golf INDIA no leak"),
            (3, "completely unrelated text about spark shuffles and joins okay"),
            (4, f"{leak} repeated {leak} twice"),
            (5, "alpha bravo charlie"),  # < 8 tokens: no grams at all
        ],
        "doc_id long, text string",
    )
    eval_docs = spark.createDataFrame(
        [(100, f"benchmark question: {leak} answer below")],
        "doc_id long, text string",
    )
    kept = sorted(
        r.doc_id for r in decontaminate(docs, eval_docs).collect()
    )
    assert kept == [2, 3, 5]
    hits = {
        r.doc_id: r.contam_hits
        for r in contamination_hits(docs, eval_ngram_set(eval_docs)).collect()
    }
    assert hits[1] == 1 and hits[4] == 2  # occurrences, not distinct grams
    assert 2 not in hits and 3 not in hits and 5 not in hits
    # an eval doc streamed through as training data contaminates itself
    assert decontaminate(eval_docs, eval_docs).count() == 0


def _bmp24(w=4, h=2, bgr=(10, 20, 30)) -> bytes:
    """Minimal uncompressed 24-bit BI_RGB BMP with a constant color,
    rows padded to 4 bytes, bottom-up."""
    import struct

    row = (bytes(bgr) * w + b"\x00\x00\x00")[: (w * 3 + 3) // 4 * 4]
    raster = row * h
    off = 14 + 40
    header = (
        b"BM" + struct.pack("<IHHI", off + len(raster), 0, 0, off)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 2835, 2835, 0, 0)
    )
    return header + raster


def test_decode_bmp_pixels_real_raster():
    """decode_bmp_pixels is a REAL full-pixel decode (no image libs):
    exact pixel count and Rec.601 mean luma on a constant-color BMP;
    compressed/truncated/non-BMP blobs return None."""
    from polygon_daily_market_data_pipeline_spark.operators.multimodal import (
        decode_bmp_pixels,
        parse_image_header,
    )

    bmp = _bmp24(w=5, h=3, bgr=(255, 0, 0))  # pure blue
    assert parse_image_header(bmp) == ("bmp", 5, 3)
    got = decode_bmp_pixels(bmp)
    assert got is not None
    n, luma = got
    assert n == 15
    assert abs(luma - 0.114 * 255) < 1e-9
    assert decode_bmp_pixels(b"not an image") is None
    assert decode_bmp_pixels(bmp[:40]) is None  # truncated raster
    # compression flag != BI_RGB → refuse (Pillow territory)
    import struct

    rle = bytearray(bmp)
    rle[30:34] = struct.pack("<I", 1)
    assert decode_bmp_pixels(bytes(rle)) is None


def test_extract_image_features_decodes_bmp_pixels(spark):
    """The headers decoder surfaces real decoded-pixel stats for BMP
    blobs (pix_pixels / pix_mean_luma), NULL for anything else, with
    every header field unchanged."""
    bmp = _bmp24(w=4, h=2, bgr=(0, 255, 0))  # pure green
    media = spark.createDataFrame(
        [
            (1, "image", "image/bmp", None, None, None, bytearray(bmp)),
            (2, "image", "text/plain", None, None, None, bytearray(b"zz")),
        ],
        multimodal.MEDIA_SCHEMA,
    )
    out = {
        r["media_id"]: r
        for r in multimodal.extract_image_features(media, decoder="headers").collect()
    }
    r1 = out[1]
    assert (r1["format"], r1["width"], r1["height"]) == ("bmp", 4, 2)
    assert r1["pix_pixels"] == 8
    assert abs(r1["pix_mean_luma"] - 0.587 * 255) < 1e-9
    assert out[2]["pix_pixels"] is None and out[2]["pix_mean_luma"] is None


def test_pq_encode_matches_numpy_and_decode_distortion(spark):
    """pq_encode against frozen codebooks must reproduce the exact
    numpy per-subspace argmin for every vector, and reconstruction
    from codes must be closer to the original than the best rival
    code in every subspace (the defining property of nearest-center
    quantization)."""
    import numpy as np

    from polygon_daily_market_data_pipeline_spark.operators.similarity import (
        pq_decode_mat,
        pq_encode,
        pq_train_codebooks,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = pq_train_codebooks(emb, m=8, ksub=16, iters=3)
    assert books.shape == (8, 16, 8)
    got = {r.vec_id: list(r.code) for r in pq_encode(emb, books).collect()}
    ref = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in emb.collect()
    }
    assert set(got) == set(ref)
    for vid in list(ref)[:50]:
        v = ref[vid]
        for s in range(8):
            sub = v[s * 8 : (s + 1) * 8]
            d = ((books[s] - sub[None, :]) ** 2).sum(axis=1)
            assert got[vid][s] == int(d.argmin()), (vid, s)
    codes = np.array([got[v] for v in sorted(ref)])
    rec = pq_decode_mat(codes, books)
    mat = np.array([ref[v] for v in sorted(ref)])
    # nearest-center reconstruction: per-subspace distance to own code
    # center is minimal by construction, so total distortion is below
    # what any single-subspace perturbation of the code would give
    rel = np.linalg.norm(mat - rec, axis=1) / np.linalg.norm(mat, axis=1)
    assert rel.mean() < 1.0  # quantized, not destroyed
    # raising ksub strictly reduces distortion on the same data
    books32 = pq_train_codebooks(emb, m=8, ksub=32, iters=3)
    got32 = {
        r.vec_id: list(r.code) for r in pq_encode(emb, books32).collect()
    }
    rec32 = pq_decode_mat(
        np.array([got32[v] for v in sorted(ref)]), books32
    )
    rel32 = np.linalg.norm(mat - rec32, axis=1) / np.linalg.norm(mat, axis=1)
    assert rel32.mean() < rel.mean()


def test_pq_topk_recall_and_true_scores(spark):
    """PQ ANN twin of the LSH/IVF recall tests: recall@3 above the
    audit floor at the registered parameters, every returned cos is
    the TRUE cosine (exact rerank), and a stored code table (the
    production path) gives the identical result to inline encoding."""
    from polygon_daily_market_data_pipeline_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_pq,
        pq_encode,
        pq_train_codebooks,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.where("vec_id < 50")
    exact = cosine_topk_bruteforce(emb, q, k=3)
    exact_pairs = {(r.query_id, r.neighbor_id): r.cos for r in exact.collect()}
    books = pq_train_codebooks(emb, m=16, ksub=32, iters=4)
    coded = pq_encode(emb, books)
    approx = cosine_topk_pq(
        emb, q, k=3, codebooks=books, coded=coded, rerank_factor=16
    ).collect()
    approx_pairs = {(r.query_id, r.neighbor_id): r.cos for r in approx}
    recall = len(set(approx_pairs) & set(exact_pairs)) / len(exact_pairs)
    assert recall >= 0.8, f"PQ recall {recall:.2f} below floor"
    # rerank means scores are exact cosines wherever the sets agree
    for pair in set(approx_pairs) & set(exact_pairs):
        assert abs(approx_pairs[pair] - exact_pairs[pair]) < 1e-9
    # inline-encoded run is identical to the stored-code run
    inline = cosine_topk_pq(
        emb, q, k=3, codebooks=books, rerank_factor=16
    ).collect()
    assert {(r.query_id, r.neighbor_id) for r in inline} == set(approx_pairs)


def test_ivfpq_topk_recall_ivf_bounded(spark):
    """The composite index: recall above the audit floor at the
    registered parameters, never above its own coarse quantizer's cell
    recall (the rerank recovers PQ distortion, not an unprobed cell),
    and every returned cos is the TRUE cosine."""
    from polygon_daily_market_data_pipeline_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivfpq,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.where("vec_id < 50")
    exact = {
        (r.query_id, r.neighbor_id): r.cos
        for r in cosine_topk_bruteforce(emb, q, k=3).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id): r.cos
        for r in cosine_topk_ivfpq(
            emb, q, k=3, n_probe=6, rerank_factor=16
        ).collect()
    }
    recall = len(set(approx) & set(exact)) / len(exact)
    assert recall >= 0.5, f"IVFPQ recall {recall:.2f} below floor"
    for pair in set(approx) & set(exact):
        assert abs(approx[pair] - exact[pair]) < 1e-9


def test_training_is_bit_reproducible_across_runs(spark):
    """Repeat-training law (VERDICT r8 #3): kmeans_centroids and
    pq_train_codebooks must return BIT-IDENTICAL arrays across two runs
    over the same input — the driver-side reduce sorts partials by
    (subspace, cluster, partition id) before float-summing, so collect
    arrival order can no longer perturb trained centroids/codebooks by
    ulps and flip near-tied assignments downstream."""
    import numpy as np

    from polygon_daily_market_data_pipeline_spark.operators.similarity import (
        kmeans_centroids,
        pq_train_codebooks,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    # several partitions so the reduce really merges cross-partition
    # partials (a 1-partition frame would pass trivially)
    emb = emb.repartition(7)
    c1 = kmeans_centroids(emb, k=8, iters=2)
    c2 = kmeans_centroids(emb, k=8, iters=2)
    assert np.array_equal(c1, c2)
    b1 = pq_train_codebooks(emb, m=8, ksub=16, iters=2)
    b2 = pq_train_codebooks(emb, m=8, ksub=16, iters=2)
    assert np.array_equal(b1, b2)


def test_joint_trainer_matches_separate_training(spark):
    """train_quantizers must return BIT-IDENTICAL (centroids, codebooks)
    to kmeans_centroids + pq_train_codebooks run separately — the joint
    single-pass trainer is a job-count optimization, never a semantics
    change (the registered embedding_ann_ivf injects its outputs into
    all three methods, so any drift here would silently move the
    measured recalls the floors were calibrated against)."""
    import numpy as np

    from polygon_daily_market_data_pipeline_spark.operators.similarity import (
        kmeans_centroids,
        pq_train_codebooks,
        train_quantizers,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).repartition(5)
    c0 = kmeans_centroids(emb, k=8, iters=2)
    b0 = pq_train_codebooks(emb, m=8, ksub=16, iters=2)
    c1, b1 = train_quantizers(emb, k=8, m=8, ksub=16, iters=2)
    assert np.array_equal(c0, c1)
    assert np.array_equal(b0, b1)


def test_quantizer_index_matches_per_method_encoders(spark):
    """quantizer_index's (cell, pq_code, sq_code, vec) must be
    BIT-IDENTICAL to ivf_assign / pq_encode / sq_encode / the raw
    column — the shared single-pass index is a job-count optimization
    (round 17, VERDICT r16 #4), never a semantics change: the
    registered embedding_ann_ivf slices it into all five quantizer
    audits, so any drift here would silently move the measured recalls
    the floors were calibrated against."""
    import numpy as np

    from polygon_daily_market_data_pipeline_spark.operators.similarity import (
        cosine_topk_ivfsq,
        ivf_assign,
        pq_encode,
        quantizer_index,
        sq_encode,
        sq_train_bounds,
        train_quantizers,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).repartition(5)
    cents, books = train_quantizers(emb, k=8, m=8, ksub=16, iters=2)
    bounds = sq_train_bounds(emb)
    qi = quantizer_index(emb, cents, books, bounds)
    assert qi.schema["sq_code"].dataType == (
        sq_encode(emb, bounds).schema["code"].dataType
    )
    idx = {r["vec_id"]: r for r in qi.collect()}
    cells = {r["vec_id"]: r["cell"] for r in ivf_assign(emb, cents).collect()}
    pq = {r["vec_id"]: list(r["code"]) for r in pq_encode(emb, books).collect()}
    sq = {r["vec_id"]: list(r["code"]) for r in sq_encode(emb, bounds).collect()}
    raw = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    assert set(idx) == set(raw)
    for vid, r in idx.items():
        assert r["cell"] == cells[vid]
        assert list(r["pq_code"]) == pq[vid]
        assert list(r["sq_code"]) == sq[vid]
        assert list(r["embedding"]) == raw[vid]  # exact float64 round-trip
    assert np.array_equal(bounds, np.asarray(bounds, dtype=np.float64))
    # the in-line IVF+SQ index pass emits the same code type
    plan = cosine_topk_ivfsq(
        emb, emb.limit(3), k=1, centroids=cents, bounds=bounds
    )._jdf.queryExecution().analyzed()
    types, stack = {}, [plan]
    while stack:
        node = stack.pop()
        out, kids = node.output(), node.children()
        types.update(
            (out.apply(i).name(), out.apply(i).dataType().simpleString())
            for i in range(out.size())
        )
        stack += [kids.apply(i) for i in range(kids.size())]
    assert types["sq_code"] == (
        sq_encode(emb, bounds).schema["code"].dataType.simpleString()
    )


def test_prebuilt_ann_index_requires_its_quantizers(spark):
    """A pre-built index without the quantizers it was built with would
    be probed with freshly trained ones that match none of its cells or
    codes: each ANN variant refuses instead of returning bad recall."""
    import numpy as np
    import pytest

    from polygon_daily_market_data_pipeline_spark.operators.similarity import (
        cosine_topk_ivf,
        cosine_topk_ivfpq,
        cosine_topk_ivfsq,
        quantizer_index,
    )

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.5, 0.2]), (2, [0.0, 1.0, 0.1, 0.9])],
        "vec_id long, embedding array<double>",
    )
    cents = np.array([[1.0, 0.0, 0.5, 0.2], [0.0, 1.0, 0.1, 0.9]])
    books = np.zeros((2, 2, 2))  # m=2 subspaces, 2 centers, dsub=2
    bounds = np.array([[0.0] * 4, [1.0] * 4])
    idx = quantizer_index(emb, cents, books, bounds)
    # sizes are valid for training, so a call that retrains instead of
    # refusing returns a frame and the raises-check fails
    with pytest.raises(ValueError, match="centroids"):
        cosine_topk_ivf(
            emb, emb, k=1, n_clusters=2,
            assigned=idx.select("vec_id", "embedding", "cell"),
        )
    pq_idx = idx.select("vec_id", "cell", F.col("pq_code").alias("code"))
    with pytest.raises(ValueError, match="codebooks"):
        cosine_topk_ivfpq(
            emb, emb, k=1, m=2, ksub=2, centroids=cents, indexed=pq_idx
        )
    with pytest.raises(ValueError, match="centroids"):
        cosine_topk_ivfpq(
            emb, emb, k=1, n_clusters=2, codebooks=books, indexed=pq_idx
        )
    sq_idx = idx.select("vec_id", "cell", F.col("sq_code").alias("code"))
    with pytest.raises(ValueError, match="bounds"):
        cosine_topk_ivfsq(emb, emb, k=1, centroids=cents, indexed=sq_idx)
    with pytest.raises(ValueError, match="centroids"):
        cosine_topk_ivfsq(
            emb, emb, k=1, n_clusters=2, bounds=bounds, indexed=sq_idx
        )


def test_ivf_maintenance_argmin_margin_dwarfs_float_noise():
    """Engine-difference immunity of the ivf_maintenance oracle row
    (VERDICT r8 'What's wrong #1' candidate): the audit checksum is
    argmin-sensitive, and Spark assigns with numpy float64 while DuckDB
    recomputes with list_distance over FLOAT[] — a near-tie could order
    differently between the engines. Prove there is none on the
    testdata, directly: compute BOTH engines' distance matrices for the
    frozen k=8 lowest-id quantizer, assert (a) the two argmins agree on
    every held-out vector under the same (distance, cell) tiebreak, and
    (b) the runner-up margin exceeds 100x the MEASURED max cross-engine
    distance discrepancy — so even a 100x-worse float path could not
    flip an assignment. Measured: discrepancy ~2.7e-7 rel (DuckDB
    accumulates in float32), min margin ~1.8e-4 at sf0.1 (~300x)."""
    import os

    import duckdb
    import numpy as np

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        path = f"/root/testdata/{sf}/embeddings.parquet"
        if not os.path.exists(path):
            continue
        con = duckdb.connect()
        rows = con.sql(f"SELECT vec_id, embedding FROM '{path}'").fetchall()
        ids = np.array([r[0] for r in rows])
        mat = np.array([r[1] for r in rows], dtype=np.float64)
        tid = ids[ids % 5 != 3]
        cents = mat[ids % 5 != 3][np.argsort(tid)[:8]]
        held = mat[ids % 5 == 3]
        hid = ids[ids % 5 == 3]
        con.execute(
            "CREATE TABLE h AS SELECT vec_id, embedding "
            "FROM read_parquet($1) WHERE vec_id % 5 = 3",
            [path],
        )
        con.execute(
            "CREATE TABLE c AS SELECT ROW_NUMBER() OVER (ORDER BY vec_id)"
            " - 1 AS cell, embedding FROM (SELECT vec_id, embedding FROM "
            "read_parquet($1) WHERE vec_id % 5 <> 3 ORDER BY vec_id "
            "LIMIT 8)",
            [path],
        )
        dd = con.sql(
            "SELECT h.vec_id, c.cell, "
            "list_distance(h.embedding, c.embedding) AS d FROM h, c"
        ).fetchall()
        con.close()
        duck = np.empty((len(hid), 8))
        pos = {int(v): i for i, v in enumerate(hid)}
        for vid, cell, d in dd:
            duck[pos[int(vid)], cell] = d
        d64 = np.sqrt(((held[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2))
        # (a) argmin agreement under the shared (distance, cell) tiebreak
        assert (d64.argmin(axis=1) == duck.argmin(axis=1)).all(), sf
        # (b) margin >> measured cross-engine discrepancy
        max_err = (np.abs(duck - d64) / d64).max()
        s = np.sort(d64, axis=1)
        min_gap = ((s[:, 1] - s[:, 0]) / s[:, 0]).min()
        assert min_gap > 100 * max_err, (
            f"{sf}: min argmin margin {min_gap:.3g} within 100x the "
            f"measured engine discrepancy {max_err:.3g} — the "
            "ivf_maintenance checksum is tie-fragile on this data"
        )


# --- round 12: SemDeDup (semantic dedup over embeddings) -------------------


def test_semantic_dedup_keeps_best_and_names_witnesses(spark):
    """Hand-built corpus: two tight semantic groups plus singletons.
    Within a group the HIGHEST-quality member is kept, every other
    member is dropped with the kept member as witness at cos >= tau;
    dissimilar vectors all survive."""
    import numpy as np

    from polygon_daily_market_data_pipeline_spark.operators.similarity import (
        semantic_dedup,
    )

    rng_free = [
        # group A: near-identical direction (cos ~ 1)
        (0, [1.0, 0.0, 0.0, 0.0], 0.2),
        (1, [0.999, 0.01, 0.0, 0.0], 0.9),   # best quality -> canonical
        (2, [0.998, 0.02, 0.0, 0.0], 0.5),
        # group B
        (10, [0.0, 1.0, 0.0, 0.0], 0.7),
        (11, [0.0, 0.999, 0.01, 0.0], 0.3),
        # singletons (orthogonal)
        (20, [0.0, 0.0, 1.0, 0.0], 0.1),
        (21, [0.0, 0.0, 0.0, 1.0], 0.1),
    ]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v], float(q)) for i, v, q in rng_free],
        "vec_id long, embedding array<double>, quality double",
    )
    # k=1: one cell — the greedy pass sees everything (clustering
    # separation is covered by the corpus test below)
    cents = np.zeros((1, 4))
    sd = semantic_dedup(
        emb, quality_col="quality", tau=0.9, centroids=cents
    ).collect()
    by_id = {r.vec_id: r for r in sd}
    assert sorted(r.vec_id for r in sd if r.keep) == [1, 10, 20, 21]
    assert by_id[0].witness_id == 1 and by_id[0].witness_cos >= 0.9
    assert by_id[2].witness_id == 1
    assert by_id[11].witness_id == 10
    for kept in (1, 10, 20, 21):
        assert by_id[kept].witness_id is None


def test_semantic_dedup_corpus_audit_and_determinism(spark):
    """On the driver testdata: the independent per-cell recheck passes
    (partition exact, witnesses valid, kept set tau-independent,
    non-vacuous drops), and two runs are bit-identical (deterministic
    centroids + deterministic greedy order)."""
    from polygon_daily_market_data_pipeline_spark.operators.similarity import (
        semantic_dedup,
    )
    from polygon_daily_market_data_pipeline_spark.plans.llm_ops import (
        _SEMDEDUP_K,
        _SEMDEDUP_TAU,
        _semdedup_cell_audit,
    )
    from polygon_daily_market_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    sd = semantic_dedup(emb, k_clusters=_SEMDEDUP_K, tau=_SEMDEDUP_TAU)
    cells = _semdedup_cell_audit(sd, emb).collect()
    assert all(r.witness_ok and r.independent for r in cells)
    assert sum(r.n_members for r in cells) == emb.count()
    assert sum(r.n_kept + r.n_dropped for r in cells) == emb.count()
    assert sum(r.n_dropped for r in cells) >= 1
    key = lambda r: (r.vec_id, r.cell, r.keep, r.witness_id)  # noqa: E731
    again = semantic_dedup(
        emb, k_clusters=_SEMDEDUP_K, tau=_SEMDEDUP_TAU
    )
    assert sorted(map(key, sd.collect())) == sorted(map(key, again.collect()))


def test_repeated_span_stats_cuts_shared_paragraphs_only(spark):
    """Exact-substring dedup semantics on a hand-built corpus: a
    verbatim 30-token paragraph shared by two docs is removed from
    BOTH (every token covered by a cross-doc 25-token window goes),
    each doc's unique prose survives exactly, a doc repeating its OWN
    paragraph keeps it (cross-doc means >= 2 distinct docs), and a
    short unrelated doc is untouched."""
    from polygon_daily_market_data_pipeline_spark.operators.text_dedup import (
        repeated_span_stats,
    )

    shared = " ".join(f"boiler{i}" for i in range(30))
    a_unique = " ".join(f"alpha{i}" for i in range(10))
    b_unique = " ".join(f"beta{i}" for i in range(8))
    docs = spark.createDataFrame(
        [
            (1, f"{a_unique} {shared}"),
            (2, f"{shared} {b_unique}"),
            (3, f"{shared} {shared}"),  # self-repeat... but also shares
            (4, "just a short note"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repeated_span_stats(docs, window=25).collect()}
    # docs 1-3 all contain the shared paragraph -> its windows are
    # cross-doc duplicates; every token of `shared` is covered
    assert out[1].n_tokens == 40 and out[1].n_kept == 10
    assert out[2].n_tokens == 38 and out[2].n_kept == 8
    import hashlib

    assert out[1].kept_md5 == hashlib.md5(a_unique.encode()).hexdigest()
    assert out[2].kept_md5 == hashlib.md5(b_unique.encode()).hexdigest()
    assert out[3].n_kept == 0  # wholly boilerplate
    assert out[4].n_kept == out[4].n_tokens == 4  # untouched
    # a doc repeating its own paragraph with NO other doc sharing it
    # keeps everything: cross-doc means >= min_docs DISTINCT documents
    solo = spark.createDataFrame(
        [(1, f"{shared} {shared}"), (2, "something else entirely here")],
        "doc_id long, text string",
    )
    solo_out = {r.doc_id: r for r in repeated_span_stats(solo, window=25).collect()}
    assert solo_out[1].n_kept == solo_out[1].n_tokens == 60


def test_repeated_span_bloom_prefilter_value_identical(spark):
    """The round-13 Bloom prefilter (VERDICT r12 #7) is a pure shuffle
    optimization: outputs bit-identical with it on and off — on the
    real documents corpus, on the hand-built boilerplate fixture
    (including the self-repeat subtlety: a same-doc repeat passes the
    bloom but the exact aggregate still rejects it), and under a
    deliberately UNDERSIZED bloom, where heavy false positives must
    cost shuffle rows, never correctness."""
    from polygon_daily_market_data_pipeline_spark.operators.text_dedup import (
        repeated_span_stats,
    )
    from polygon_daily_market_data_pipeline_spark.sources.tables import (
        load_table,
    )

    docs = (
        load_table(spark, "/root/testdata/sf0.001", "documents")
        .select("doc_id", "text")
        .localCheckpoint()
    )
    key = lambda r: tuple(r)  # noqa: E731
    plain = sorted(key(r) for r in repeated_span_stats(docs).collect())
    bloomed = sorted(
        key(r)
        for r in repeated_span_stats(docs, bloom_prefilter=True).collect()
    )
    assert plain == bloomed and len(plain) == docs.count()
    shared = " ".join(f"boiler{i}" for i in range(30))
    fix = spark.createDataFrame(
        [
            (1, f"{shared} alpha one two three four five six"),
            (2, f"{shared} beta"),
            (3, f"{shared.replace('boiler', 'own')} "
                f"{shared.replace('boiler', 'own')}"),
        ],
        "doc_id long, text string",
    )
    for bits in (1 << 20, 1 << 8):  # sized and pathologically small
        a = sorted(key(r) for r in repeated_span_stats(fix, window=25).collect())
        b = sorted(
            key(r)
            for r in repeated_span_stats(
                fix, window=25, bloom_prefilter=True, bloom_bits=bits
            ).collect()
        )
        assert a == b


def test_bigram_surprisal_exact_and_ordering(spark):
    """The integer-quantized bigram LM: hand-computed scores on a tiny
    corpus, boilerplate (repeated bigrams) scores LOWER than unique
    prose of the same length, and <2-token docs get the (0, 0)
    identity."""
    import math

    from polygon_daily_market_data_pipeline_spark.operators.lm_score import (
        bigram_surprisal_scores,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b a b a b"),        # bigrams: ab x3, ba x2
            (2, "c d e f"),            # cd, de, ef -- all unique
            (3, "a b"),                # one common bigram
            (4, "solo"),               # no bigrams
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in bigram_surprisal_scores(docs).collect()}
    # corpus: counts {ab:4, ba:2, cd:1, de:1, ef:1}; N=9, V=5
    def s(c):
        return int(math.log2((9 + 5) // (c + 1)))

    assert (out[1].n_bigrams, out[1].surprisal) == (5, 3 * s(4) + 2 * s(2))
    assert (out[2].n_bigrams, out[2].surprisal) == (3, 3 * s(1))
    assert (out[3].n_bigrams, out[3].surprisal) == (1, s(4))
    assert (out[4].n_bigrams, out[4].surprisal) == (0, 0)
    # mean surprisal orders quality the CCNet way: unique prose > boilerplate
    assert out[2].surprisal / out[2].n_bigrams > out[1].surprisal / out[1].n_bigrams


def test_semdedup_residual_catches_planted_boundary_pair(spark):
    """semantic_dedup inherits the SemDeDup paper's blind spot: a
    near-duplicate pair STRADDLING a cell boundary survives the
    within-cell greedy pass. The round-13 residual probe must (a) find
    a deliberately planted boundary pair — two ~identical vectors each
    nearer a different frozen centroid — with its exact cosine and
    both cells named, and (b) stay EMPTY when no cross-cell tau-pair
    exists, while running over kept rows only."""
    import numpy as np

    from polygon_daily_market_data_pipeline_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_residual,
    )

    dim = 8
    c0 = [1.0, 0.0] + [0.0] * (dim - 2)
    c1 = [0.0, 1.0] + [0.0] * (dim - 2)
    cents = np.array([c0, c1])
    # the planted pair: cos(a, b) ~ 0.9998, a -> cell 0, b -> cell 1
    a = [0.72, 0.70] + [0.0] * (dim - 2)
    b = [0.70, 0.72] + [0.0] * (dim - 2)
    # same-cell near-dups (one gets dropped in-cell) + isolated fillers
    rows = [
        (1, a), (2, b),
        (3, [0.99, 0.01] + [0.0] * (dim - 2)),
        (4, [0.98, 0.02] + [0.0] * (dim - 2)),  # in-cell dup of 3
        (5, [0.01, 0.03] + [0.9] + [0.0] * (dim - 3)),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    sd = semantic_dedup(
        df, k_clusters=2, tau=0.9, centroids=cents
    ).localCheckpoint()
    by_id = {r.vec_id: r for r in sd.collect()}
    assert by_id[1].cell != by_id[2].cell  # genuinely straddling
    assert by_id[1].keep and by_id[2].keep  # both survive: blind spot
    assert not by_id[4].keep  # in-cell dedup still fired
    res = semantic_dedup_residual(df, sd, tau=0.9).collect()
    assert len(res) == 1
    (pair,) = res
    assert {pair.id_a, pair.id_b} == {1, 2}
    assert {pair.cell_a, pair.cell_b} == {by_id[1].cell, by_id[2].cell}
    assert pair.cos >= 0.999
    # no boundary pair planted -> empty residual (dropped rows never
    # re-enter: 4 is tau-close to kept 3 but EXCLUDED from the pass)
    clean = df.where("vec_id <> 2")
    sd2 = semantic_dedup(
        clean, k_clusters=2, tau=0.9, centroids=cents
    ).localCheckpoint()
    assert semantic_dedup_residual(clean, sd2, tau=0.9).count() == 0


def _lm_corpus(spark, sf="/root/testdata/sf0.001"):
    from polygon_daily_market_data_pipeline_spark.sources.tables import (
        load_table,
    )

    return load_table(spark, sf, "documents").select("doc_id", "text")


def test_dsir_weights_hand_computed_and_ordering(spark):
    """DSIR importance weights (round 13): hand-checked arithmetic on a
    tiny corpus — log_w = Σ per-gram (s_raw − s_target) — and the
    decision structure: docs matching the target distribution weigh
    MORE than background-only docs; a doc with < 2 tokens weighs 0."""
    import math

    from polygon_daily_market_data_pipeline_spark.operators.lm_score import (
        dsir_log_weights,
    )

    docs = spark.createDataFrame(
        [
            (1, "x y x y"),     # target-like: grams xy x2, yx x1
            (2, "p q p q"),     # background-only: pq x2, qp x1
            (3, "solo"),        # no bigrams
        ],
        "doc_id long, text string",
    )
    target = docs.where("doc_id = 1")
    out = {r.doc_id: r for r in dsir_log_weights(docs, target).collect()}

    def s(nv, c):
        return math.floor(math.log2(nv // (c + 1)))

    # raw model: counts xy=2, yx=1, pq=2, qp=1 -> N=6, V=4, NV=10
    # target model: xy=2, yx=1 -> N=3, V=2, NV=5
    w1 = (2 * s(10, 2) + s(10, 1)) - (2 * s(5, 2) + s(5, 1))
    w2 = (2 * s(10, 2) + s(10, 1)) - (2 * s(5, 0) + s(5, 0))
    assert out[1].log_w == w1 and out[1].n_bigrams == 3
    assert out[2].log_w == w2 and out[2].n_bigrams == 3
    assert out[3].log_w == 0 and out[3].n_bigrams == 0
    assert out[1].log_w > out[2].log_w  # target-like ranks higher


def test_dsir_self_target_is_zero(spark):
    """target == raw background ⇒ every weight is exactly 0 (the
    importance ratio of a distribution against itself)."""
    from polygon_daily_market_data_pipeline_spark.operators.lm_score import (
        dsir_log_weights,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i} common w{i} tail") for i in range(20)],
        "doc_id long, text string",
    )
    out = dsir_log_weights(docs, docs).collect()
    assert out and all(r.log_w == 0 for r in out)


def test_dsir_select_deterministic_and_gumbel(spark):
    from polygon_daily_market_data_pipeline_spark.operators.lm_score import (
        dsir_log_weights,
        dsir_select,
    )

    docs = spark.createDataFrame(
        [(i, ("good text " * 3) if i % 3 == 0 else f"junk{i} blob{i}")
         for i in range(30)],
        "doc_id long, text string",
    )
    target = docs.where("doc_id % 3 = 0 and doc_id < 15")
    w = dsir_log_weights(docs, target)
    s1 = sorted(r.doc_id for r in dsir_select(w, 5).collect())
    s2 = sorted(r.doc_id for r in dsir_select(w, 5).collect())
    assert s1 == s2 and len(s1) == 5
    # the rank selection picks target-like docs
    assert all(d % 3 == 0 for d in s1)
    # gumbel resampling: deterministic per seed, k respected
    g1 = sorted(r.doc_id for r in dsir_select(w, 5, seed=7, gumbel=True).collect())
    g2 = sorted(r.doc_id for r in dsir_select(w, 5, seed=7, gumbel=True).collect())
    assert g1 == g2 and len(g1) == 5


def test_sq8_encode_decode_bound_and_recall(spark):
    """SQ8 scalar quantization (round 13): codes live in [0, 255],
    reconstruction error per dimension is at most half a step,
    degenerate dimensions decode exactly, and the ANN twin clears the
    recall floor with TRUE cosines on the rerank tail — the 4x
    compression rung below PQ's 16-32x."""
    import numpy as np

    from polygon_daily_market_data_pipeline_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_sq,
        sq_decode_mat,
        sq_encode,
        sq_train_bounds,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    bounds = sq_train_bounds(emb)
    coded = sq_encode(emb, bounds)
    rows = coded.limit(100).collect()
    codes = np.array([r["code"] for r in rows], dtype=np.int64)
    assert codes.min() >= 0 and codes.max() <= 255
    raw = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in emb.where(
            F.col("vec_id").isin([r["vec_id"] for r in rows])
        ).collect()
    }
    step = np.where(bounds[1] > bounds[0], (bounds[1] - bounds[0]) / 255.0, 0)
    recon = sq_decode_mat(codes, bounds)
    for i, r in enumerate(rows):
        err = np.abs(recon[i] - raw[r["vec_id"]])
        assert (err <= step / 2 + 1e-12).all()
    # degenerate dimension decodes exactly
    const = spark.createDataFrame(
        [(1, [1.0, 5.0]), (2, [2.0, 5.0])], "vec_id long, embedding array<double>"
    )
    b2 = sq_train_bounds(const)
    r2 = sq_decode_mat(
        np.array([r["code"] for r in sq_encode(const, b2).collect()]), b2
    )
    assert (r2[:, 1] == 5.0).all()

    q = emb.where("vec_id < 30")
    exact = cosine_topk_bruteforce(emb, q, k=3)
    exact_pairs = {(r.query_id, r.neighbor_id): r.cos for r in exact.collect()}
    approx = cosine_topk_sq(
        emb, q, k=3, bounds=bounds, coded=coded, rerank_factor=16
    ).collect()
    approx_pairs = {(r.query_id, r.neighbor_id): r.cos for r in approx}
    recall = len(set(approx_pairs) & set(exact_pairs)) / len(exact_pairs)
    assert recall >= 0.9, f"SQ8 recall {recall:.2f} below floor"
    for pair in set(approx_pairs) & set(exact_pairs):
        assert abs(approx_pairs[pair] - exact_pairs[pair]) < 1e-9


def test_ivfsq_topk_recall_ivf_bounded(spark):
    """IVF+SQ composite: recall is IVF-bounded (the SQ reconstruction
    is near-lossless, so the composite should match plain IVF's recall
    at the same probes), scores on agreeing pairs are TRUE cosines,
    and shared pretrained models reproduce the inline run."""
    from polygon_daily_market_data_pipeline_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
        cosine_topk_ivfsq,
        kmeans_centroids,
        sq_train_bounds,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.where("vec_id < 40")
    exact_pairs = {
        (r.query_id, r.neighbor_id): r.cos
        for r in cosine_topk_bruteforce(emb, q, k=3).collect()
    }
    cents = kmeans_centroids(emb, k=16)
    bounds = sq_train_bounds(emb)
    got = cosine_topk_ivfsq(
        emb, q, k=3, n_clusters=16, n_probe=6, rerank_factor=16,
        centroids=cents, bounds=bounds,
    ).collect()
    got_pairs = {(r.query_id, r.neighbor_id): r.cos for r in got}
    recall = len(set(got_pairs) & set(exact_pairs)) / len(exact_pairs)
    assert recall >= 0.5, f"IVF+SQ recall {recall:.2f} below floor"
    for pair in set(got_pairs) & set(exact_pairs):
        assert abs(got_pairs[pair] - exact_pairs[pair]) < 1e-9
    # the SQ step must not cost recall vs plain IVF at the same probes
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_ivf(
            emb, q, k=3, n_clusters=16, n_probe=6, centroids=cents
        ).collect()
    }
    ivf_recall = len(ivf & set(exact_pairs)) / len(exact_pairs)
    assert recall >= ivf_recall - 0.05


def test_quantized_topk_keeps_tied_duplicates_like_bruteforce(spark):
    """Exact duplicate vectors tie on every codec's approximate score
    and on the exact cosine. Each query here has eight copies of its
    nearest vector while the candidate cut keeps k·rerank_factor = 3 per
    query, so the ties straddle the cut: PQ and SQ must still hand the
    rerank the lowest tied ids and return the brute-force pairs."""
    import numpy as np

    from polygon_daily_market_data_pipeline_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_pq,
        cosine_topk_sq,
        sq_train_bounds,
    )

    near_a, near_b = [1.0, 0.2, 0.1, 0.0], [0.0, 0.1, 1.0, 0.3]
    rows = (
        [(i, near_a) for i in range(1, 9)]
        + [(i, near_b) for i in range(11, 19)]
        + [(21, [0.5, 0.5, 0.5, 0.5]), (22, [0.0, 1.0, 0.0, 1.0])]
        + [(100, [1.0, 0.25, 0.05, 0.0]), (101, [0.0, 0.15, 1.0, 0.25])]
    )
    # one partition, so one Arrow batch holds every tie
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(1)
    q = emb.where("vec_id >= 100")
    # per subspace: the two duplicate halves, the two query halves
    books = np.array(
        [
            [[1.0, 0.2], [0.0, 0.1], [1.0, 0.25], [0.0, 0.15]],
            [[0.1, 0.0], [1.0, 0.3], [0.05, 0.0], [1.0, 0.25]],
        ]
    )
    pairs = lambda df: {(r.query_id, r.neighbor_id) for r in df.collect()}  # noqa: E731
    exact = pairs(cosine_topk_bruteforce(emb, q, k=3))
    assert exact == {(100, 1), (100, 2), (100, 3), (101, 11), (101, 12), (101, 13)}
    assert pairs(
        cosine_topk_pq(emb, q, k=3, rerank_factor=1, codebooks=books)
    ) == exact
    assert pairs(
        cosine_topk_sq(
            emb, q, k=3, rerank_factor=1, bounds=sq_train_bounds(emb)
        )
    ) == exact


def test_candidate_cut_keeps_every_tie_at_the_nth_score():
    """Spark-free: the scan kernel's cut keeps, per query column, every
    row scoring at or above the column's n-th best — ties straddling
    the n-th score all survive, so the (desc score, asc id) window
    after it still sees the lowest tied id. Non-finite scores never
    survive."""
    import numpy as np

    from polygon_daily_market_data_pipeline_spark.operators.similarity import (
        _cut,
    )

    s = np.array(
        [
            [0.9, 0.1],
            [0.5, 0.7],
            [0.5, 0.7],
            [0.5, 0.2],
            [0.3, -np.inf],
            [np.nan, 0.7],
        ]
    )
    keep = _cut(s, 2)
    # column 0: the 2nd best, 0.5, is held by three rows
    assert keep[:, 0].tolist() == [True, True, True, True, False, False]
    # column 1: three rows tie at the best score
    assert keep[:, 1].tolist() == [False, True, True, False, False, True]
    # n_cand at or past the finite rows: every finite score
    assert _cut(s, 5)[:, 1].tolist() == [True, True, True, True, False, True]
    assert _cut(s[:2], 2).all()
    # against a per-column sort, on scores drawn from few values
    rng = np.random.default_rng(7)
    for n_cand in (1, 3, 8):
        r = rng.integers(0, 4, size=(40, 5)) / 4.0
        got = _cut(r, n_cand)
        for j in range(r.shape[1]):
            nth = np.sort(r[:, j])[::-1][n_cand - 1]
            assert (got[:, j] == (r[:, j] >= nth)).all()


def test_scan_batch_filters_cells_and_drops_self_pairs_before_the_cut():
    """Spark-free: with the IVF cell filter each cell's rows are scored
    only against the queries that probe it, and a query's own row is
    excluded before the cut, so it takes no candidate slot."""
    import numpy as np

    from polygon_daily_market_data_pipeline_spark.operators.similarity import (
        _scan_batch,
    )

    class Dot:
        dtype = np.float64
        scored = 0

        def __init__(self, q):
            self.q = q

        def score(self, mat, qs):
            out = mat @ self.q[qs].T
            Dot.scored += out.size
            return out

    ids = np.array([1, 2, 3, 4])
    mat = np.array([[1.0, 0.0], [0.9, 0.1], [0.0, 1.0], [0.2, 0.8]])
    q_ids = np.array([1, 9])
    codec = Dot(np.array([[1.0, 0.0], [0.0, 1.0]]))
    cells = np.array([0, 0, 1, 1])
    probers = [np.array([0]), np.array([1])]
    qi, ri, s = _scan_batch(ids, mat, cells, q_ids, codec, probers, 1)
    assert Dot.scored == 4  # 2 rows × 1 query per cell, not 4 × 2
    # query 1's best row is itself (score 1.0): the slot goes to id 2
    got = sorted(zip(q_ids[qi].tolist(), ids[ri].tolist(), s.tolist()))
    assert got == [(1, 2, 0.9), (9, 3, 1.0)]
    # no cell filter: every row against every query
    qi, ri, _ = _scan_batch(ids, mat, None, q_ids, codec, None, 1)
    assert sorted(zip(q_ids[qi].tolist(), ids[ri].tolist())) == [(1, 2), (9, 3)]
