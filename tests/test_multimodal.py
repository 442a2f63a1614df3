"""Multimodal plumbing: binary columns, JVM metadata, Pandas-UDF decode."""

from __future__ import annotations

from pyspark.sql import Row

from marketstream_etl_spark.operators.multimodal import (
    extract_features,
    media_from_documents,
    media_metadata,
)


def test_metadata_sniffs_magic_bytes(spark):
    rows = [
        Row(media_id=0, payload=b"\x89PNG\r\n\x1a\nrest", media_type="png"),
        Row(media_id=1, payload=b"\xff\xd8\xff\xe0jfif", media_type="jpeg"),
        Row(media_id=2, payload=b"RIFF....WAVE", media_type="wav"),
        Row(media_id=3, payload=b"plain text bytes", media_type="txt"),
    ]
    df = spark.createDataFrame(rows)
    got = {r["media_id"]: r for r in media_metadata(df).collect()}
    assert got[0]["sniffed_type"] == "png"
    assert got[1]["sniffed_type"] == "jpeg"
    assert got[2]["sniffed_type"] == "wav"
    assert got[3]["sniffed_type"] == "unknown"
    assert got[3]["n_bytes"] == 16
    assert len(got[0]["checksum"]) == 32


def test_extract_features_batch_shape(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"document number {i} content") for i in range(7)]
    )
    media = media_from_documents(docs)
    feats = extract_features(media, n_dims=8).collect()
    assert len(feats) == 7
    for r in feats:
        assert len(r["feature"]) == 8
        assert r["n_bytes"] > 0
        # fake decoder normalizes: features sum to ~1
        assert abs(sum(r["feature"]) - 1.0) < 1e-9


def test_extract_features_deterministic(spark):
    docs = spark.createDataFrame([Row(doc_id=0, text="same content")])
    media = media_from_documents(docs)
    a = extract_features(media).collect()[0]["feature"]
    b = extract_features(media).collect()[0]["feature"]
    assert a == b


def test_sample_frames_multiplicity_and_content(spark, sf_dir):
    """Every payload yields exactly 4 frames of n//4 bytes whose
    concatenation is a prefix of the payload."""
    from marketstream_etl_spark.operators.multimodal import (
        media_from_documents,
        sample_frames,
    )

    media = media_from_documents(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    ).limit(20)
    payloads = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    frames = sample_frames(media, n_frames=4).collect()
    by_id: dict = {}
    for r in frames:
        by_id.setdefault(r["media_id"], {})[r["frame_idx"]] = bytes(r["frame"])
    assert set(by_id) == set(payloads)
    for mid, fs in by_id.items():
        assert sorted(fs) == [0, 1, 2, 3]
        step = len(payloads[mid]) // 4
        joined = b"".join(fs[i] for i in range(4))
        assert joined == payloads[mid][: 4 * step]


def test_corpus_is_ascii(spark, sf_dir):
    """Precondition guard for the multimodal_frames char-based oracle
    (DuckDB has no md5(blob)): every document must be pure ASCII so char
    slices equal byte slices.  If regenerated testdata breaks this, fail
    HERE loudly instead of as an opaque oracle hash mismatch."""
    from pyspark.sql import functions as F

    from marketstream_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    non_ascii = docs.filter(
        F.length("text") != F.octet_length(F.encode("text", "utf-8"))
    ).count()
    assert non_ascii == 0


def test_binary_ingest_bytes_roundtrip_exact(spark, sf_dir, tmp_path):
    """binaryFile scan must deliver content byte-exact: checksums match
    Python-side md5 of the spec payloads, and lengths are exact."""
    import hashlib

    from marketstream_etl_spark.sources.binary_assets import (
        BINARY_FIXTURE_SPEC,
        binary_ingest,
        payload,
    )

    rows = {r["file"]: r for r in binary_ingest(spark, sf_dir).collect()}
    assert len(rows) == len(BINARY_FIXTURE_SPEC)
    for seed, length in BINARY_FIXTURE_SPEC:
        r = rows[f"asset_{seed:03d}.bin"]
        data = payload(seed, length)
        assert r["n_bytes"] == length
        assert r["checksum"] == hashlib.md5(data).hexdigest()
        assert r["magic8"] == data[:8].hex().upper()
