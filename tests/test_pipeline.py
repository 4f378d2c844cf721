"""Checkpoint/resume, lineage, sinks, streaming, and multimodal plumbing."""

from __future__ import annotations

import os

import pytest

from text_extractor_for_bioeconomic_products_spark.operators.extract import (
    explode_spans,
    extract_turns,
)
from text_extractor_for_bioeconomic_products_spark.plans.pipeline import (
    run_extraction,
)


@pytest.fixture()
def out_dir(tmp_path):
    return str(tmp_path / "out")


def test_run_extraction_full_and_resume(spark, transcripts_df, out_dir):
    r1 = run_extraction(spark, transcripts_df, out_dir, run_id="r1", n_buckets=8)
    assert r1.buckets_processed > 0
    assert r1.n_turns == transcripts_df.count()
    turns = spark.read.parquet(os.path.join(out_dir, "turns_extracted"))
    assert turns.count() == r1.n_turns
    spans = spark.read.parquet(os.path.join(out_dir, "product_spans"))
    assert spans.count() == r1.n_spans > 0

    # resume: everything already processed → nothing recomputed
    r2 = run_extraction(spark, transcripts_df, out_dir, run_id="r2", n_buckets=8)
    assert r2.buckets_processed == 0
    assert r2.buckets_skipped == r1.buckets_processed
    assert spark.read.parquet(os.path.join(out_dir, "turns_extracted")).count() == r1.n_turns


def test_run_extraction_partial_resume(spark, transcripts_df, out_dir):
    """Simulate a crash after half the buckets: preload a partial manifest;
    the rerun must process exactly the missing buckets, idempotently."""
    full = run_extraction(spark, transcripts_df, out_dir + "_ref", run_id="ref", n_buckets=8)

    r1 = run_extraction(spark, transcripts_df, out_dir, run_id="r1", n_buckets=8)
    _keep_manifest_buckets(out_dir, range(4))
    # rerun over the same input — only the remaining buckets execute
    r2 = run_extraction(spark, transcripts_df, out_dir, run_id="r2", n_buckets=8)
    assert (r2.buckets_processed, r2.buckets_skipped) == (4, 4)
    assert r1.buckets_processed == full.buckets_processed == 8
    total = spark.read.parquet(os.path.join(out_dir, "turns_extracted")).count()
    assert total == full.n_turns
    assert _content_sum(spark, os.path.join(out_dir, "product_spans")) == \
        _content_sum(spark, os.path.join(out_dir + "_ref", "product_spans"))


def _keep_manifest_buckets(out_dir, keep):
    """Cut the manifest down to the buckets in ``keep``: the state a run
    that had committed only those buckets leaves behind."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    path = os.path.join(out_dir, "manifest", "manifest.parquet")
    t = pq.read_table(path)
    keep = pa.array(list(keep), t["bucket"].type)
    pq.write_table(t.filter(pc.is_in(t["bucket"], value_set=keep)), path)


def test_lineage_counters(spark, transcripts_df, out_dir):
    r = run_extraction(spark, transcripts_df, out_dir, run_id="lin", n_buckets=8)
    lineage = spark.read.parquet(os.path.join(out_dir, "lineage"))
    rows = lineage.collect()
    assert {row["run_id"] for row in rows} == {"lin"}
    assert sum(row["n_turns"] for row in rows) == r.n_turns
    assert sum(row["n_spans"] for row in rows) == r.n_spans
    assert all(row["n_errors"] == 0 for row in rows)


def test_csv_sink_explode_outer_semantics(spark, transcripts_df, tmp_path):
    """S9: a span with empty tipos_uso still emits one CSV row
    (batch_process.py:162-171 explode_outer contract)."""
    from text_extractor_for_bioeconomic_products_spark.sources.sinks import (
        write_spans_csv,
    )
    spans = explode_spans(extract_turns(transcripts_df))
    n_spans = spans.count()
    from pyspark.sql import functions as F
    n_uses = spans.select(F.sum(F.greatest(F.size("tipos_uso"), F.lit(1)))).collect()[0][0]
    path = str(tmp_path / "csv")
    write_spans_csv(spans, path)
    back = spark.read.option("header", True).csv(path)
    assert back.count() == n_uses >= n_spans


def test_json_sink(spark, transcripts_df, tmp_path):
    from text_extractor_for_bioeconomic_products_spark.sources.sinks import (
        write_spans_json,
    )
    spans = explode_spans(extract_turns(transcripts_df))
    path = str(tmp_path / "json")
    write_spans_json(spans, path)
    back = spark.read.json(path)
    assert back.count() == spans.count()
    assert "_meta" in back.columns


def test_multimodal_plumbing(spark):
    from text_extractor_for_bioeconomic_products_spark.operators.multimodal import (
        extract_media_features,
        synthesize_media,
    )
    media = synthesize_media(spark, n=60)
    feats = extract_media_features(media).collect()
    assert len(feats) == 20
    assert all(f["valid"] for f in feats)
    # images are REAL BMPs/PNGs/JPEGs (cycling): real dims, real pixel
    # mean in (0, 255); all three codecs must actually appear
    assert {f["kind"] for f in feats} == {"image"}
    assert {f["codec"] for f in feats} == {"bmp", "png", "jpeg"}
    assert all(16 <= f["width"] <= 64 and 16 <= f["height"] <= 64
               for f in feats)
    assert all(0.0 < f["mean_level"] < 255.0 for f in feats)
    # determinism: same synth → same hashes
    feats2 = extract_media_features(synthesize_media(spark, n=60)).collect()
    assert sorted(f["sha256"] for f in feats) == sorted(f["sha256"] for f in feats2)


def test_bmp_wav_codec_roundtrip():
    """The stdlib BMP codec is real: encode → decode returns the exact
    pixels (including the 4-byte BMP row-padding path)."""
    import numpy as np

    from text_extractor_for_bioeconomic_products_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
    )

    for w, h in [(3, 2), (4, 4), (17, 5)]:  # odd widths exercise padding
        pixels = bytes((i * 37) % 256 for i in range(w * h * 3))
        payload = encode_bmp(w, h, pixels)
        rw, rh, mean_level, arr = decode_bmp(payload)
        assert (rw, rh) == (w, h)
        assert arr.tobytes() == pixels  # exact pixel roundtrip
        expect = round(float(np.frombuffer(pixels, np.uint8).astype(np.float64).mean()), 4)
        assert mean_level == expect


def test_png_codec_roundtrip():
    """The stdlib-zlib PNG codec is real: encode → decode returns the
    exact pixels through ALL FIVE scanline filters (encoder assigns
    filter r%5, so height ≥ 5 exercises None/Sub/Up/Average/Paeth);
    CRC corruption and truncation are detected; unsupported PNG flavors
    raise NotImplementedError (the documented boundary)."""
    import struct as _struct

    import numpy as np
    import pytest as _pytest

    from text_extractor_for_bioeconomic_products_spark.operators.multimodal import (
        decode_media,
        decode_png,
        encode_png,
    )

    for w, h in [(1, 1), (3, 7), (17, 6)]:  # h≥5 covers all 5 filters
        pixels = bytes((i * 37 + i // 7) % 256 for i in range(w * h * 3))
        payload = encode_png(w, h, pixels)
        rw, rh, mean_level, arr = decode_png(payload)
        assert (rw, rh) == (w, h)
        assert arr.tobytes() == pixels  # exact pixel roundtrip
        expect = round(
            float(np.frombuffer(pixels, np.uint8).astype(np.float64).mean()), 4
        )
        assert mean_level == expect
        # dispatch integration: decode_media routes by the PNG signature
        assert decode_media(payload)[0] == "png"

    good = encode_png(4, 6, bytes(range(72)))
    # flip one IDAT byte -> CRC check must fire
    idat_pos = good.index(b"IDAT") + 4
    bad = bytearray(good)
    bad[idat_pos] ^= 0xFF
    with _pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(bad))
    with _pytest.raises(ValueError):
        decode_png(good[:30])  # truncated chunk stream
    # unsupported flavor: grayscale (color type 0) is out of scope
    ihdr = _struct.pack(">IIBBBBB", 4, 6, 8, 0, 0, 0, 0)
    from text_extractor_for_bioeconomic_products_spark.operators.multimodal import (
        _PNG_SIG, _png_chunk,
    )
    gray = _PNG_SIG + _png_chunk(b"IHDR", ihdr) + _png_chunk(b"IEND", b"")
    with _pytest.raises(NotImplementedError):
        decode_png(gray)


def test_decoder_allocation_bounds():
    """Untrusted-header allocation guards: crafted huge IHDR/SOF0
    dimensions and zlib-bomb IDATs are REFUSED before any
    dimension-sized allocation (a malicious row must raise ValueError
    in the worker, not OOM it)."""
    import struct as _struct
    import zlib as _zlib

    import pytest as _pytest

    from text_extractor_for_bioeconomic_products_spark.operators.multimodal import (
        _PNG_SIG,
        _png_chunk,
        decode_jpeg,
        decode_png,
        encode_jpeg,
    )

    # PNG declaring 1 billion pixels: rejected at the IHDR, instantly
    ihdr = _struct.pack(">IIBBBBB", 40000, 30000, 8, 2, 0, 0, 0)
    huge = _PNG_SIG + _png_chunk(b"IHDR", ihdr) + _png_chunk(b"IEND", b"")
    with _pytest.raises(ValueError, match="refusing to allocate"):
        decode_png(huge)

    # zlib bomb: sane 10x10 dims but an IDAT inflating to ~50 MB from
    # ~50 KB — the bounded inflate stops at expected+1 bytes and raises
    ihdr = _struct.pack(">IIBBBBB", 10, 10, 8, 2, 0, 0, 0)
    bomb = _zlib.compress(b"\x00" * 50_000_000, 9)
    assert len(bomb) < 100_000
    payload = (
        _PNG_SIG + _png_chunk(b"IHDR", ihdr) + _png_chunk(b"IDAT", bomb)
        + _png_chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="size mismatch"):
        decode_png(payload)

    # JPEG SOF0 declaring 1.2 billion pixels: rejected at the header
    good = bytearray(encode_jpeg(8, 8, bytes(range(8 * 8 * 3))))
    sof_at = good.index(b"\xff\xc0")
    _struct.pack_into(">HH", good, sof_at + 5, 30000, 40000)  # h, w
    with _pytest.raises(ValueError, match="refusing to allocate"):
        decode_jpeg(bytes(good))


def test_jpeg_codec_roundtrip():
    """The numpy+stdlib baseline JPEG codec is real: dims exact, solid
    colors near-exact (DC-only path through quant/Huffman/IDCT), smooth
    gradients within a tight error bound (JPEG is lossy BY DESIGN — the
    contract is bounded error, not byte equality), encode deterministic,
    and non-baseline flavors refuse (the documented scope)."""
    import numpy as np
    import pytest as _pytest

    from text_extractor_for_bioeconomic_products_spark.operators.multimodal import (
        decode_jpeg,
        decode_media,
        encode_jpeg,
    )

    # DC-only path: a solid block has ONE nonzero coefficient, so this
    # independently pins huffman + dequant + IDCT without encoder bugs
    # being able to cancel decoder bugs on the AC path
    for color in [(0, 0, 0), (255, 255, 255), (120, 33, 200)]:
        px = np.tile(np.array(color, np.uint8), (12, 20, 1))
        w, h, mean, out = decode_jpeg(encode_jpeg(20, 12, px.tobytes()))
        assert (w, h) == (20, 12)
        assert np.abs(out.astype(int) - px.astype(int)).max() <= 4
        assert abs(mean - float(np.mean(color))) <= 4

    # gradient (non-multiple-of-8 dims exercise edge padding + crop)
    gx = np.linspace(0, 255, 33)
    gy = np.linspace(0, 255, 17)
    px = np.round(np.stack([
        np.tile(gx, (17, 1)),
        np.tile(gy[:, None], (1, 33)),
        np.full((17, 33), 128.0),
    ], axis=-1)).astype(np.uint8)
    w, h, _mean, out = decode_jpeg(encode_jpeg(33, 17, px.tobytes()))
    assert (w, h) == (33, 17)
    diff = np.abs(out.astype(int) - px.astype(int))
    assert diff.max() <= 40 and diff.mean() <= 6

    payload = encode_jpeg(33, 17, px.tobytes())
    assert payload == encode_jpeg(33, 17, px.tobytes())  # deterministic
    assert decode_media(payload)[0] == "jpeg"  # dispatch integration

    # progressive JPEG (SOF2) is out of scope and must say so
    sof0 = payload.index(b"\xff\xc0")
    progressive = payload[:sof0] + b"\xff\xc2" + payload[sof0 + 2:]
    with _pytest.raises(NotImplementedError):
        decode_jpeg(progressive)
    with _pytest.raises(ValueError):
        decode_jpeg(b"\xff\xd8\xff\xd9")  # no SOF/SOS


def test_multimodal_invalid_payload_quarantined(spark):
    """Non-FAKE payload (the real-codec NotImplementedError path) is
    flagged valid=false, never fails the job."""
    from text_extractor_for_bioeconomic_products_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_media_features,
    )
    rows = [(0, "image", b"\x89PNG not really", ("s", "image/png"))]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = extract_media_features(media).collect()
    assert len(out) == 1 and out[0]["valid"] is False


def test_lineage_no_duplicates_after_crash_resume(spark, transcripts_df, out_dir):
    """Crash-after-data-before-manifest: rerun must overwrite the bucket's
    lineage row, not append a duplicate."""
    import shutil

    r1 = run_extraction(spark, transcripts_df, out_dir, run_id="c1", n_buckets=8)
    # simulate the crash window: drop the manifest (data + lineage durable)
    shutil.rmtree(os.path.join(out_dir, "manifest"))
    r2 = run_extraction(spark, transcripts_df, out_dir, run_id="c2", n_buckets=8)
    assert r2.buckets_processed == r1.buckets_processed  # full rerun
    lineage = spark.read.parquet(os.path.join(out_dir, "lineage"))
    per_bucket = lineage.groupBy("bucket").count().filter("count > 1").count()
    assert per_bucket == 0  # one lineage row per bucket, last attempt wins
    assert sum(r["n_turns"] for r in lineage.collect()) == r1.n_turns


def _files_per_bucket(data_dir):
    """bucket=* directory name → number of parquet files in it."""
    import glob

    return {
        os.path.basename(d): len(glob.glob(os.path.join(d, "*.parquet")))
        for d in glob.glob(os.path.join(data_dir, "bucket=*"))
    }


def _sql_status_store(spark):
    """The session's SQL status store (the data behind the SQL UI tab),
    once the listener bus has delivered every event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return spark._jsparkSession.sharedState().statusStore()


def _sql_execution_ids(store):
    execs = store.executionsList()
    return [execs.apply(i).executionId() for i in range(execs.size())]


def _sql_graphs_since(spark, after_id):
    """(nodes, edges) of the executed plan of every SQL execution with an
    id above ``after_id``: nodes id → (name, desc), edges child → parent."""
    store = _sql_status_store(spark)
    graphs = []
    for eid in _sql_execution_ids(store):
        if eid <= after_id:
            continue
        g = store.planGraph(eid)
        nodes, edges = g.allNodes(), g.edges()
        graphs.append((
            {n.id(): (n.name(), n.desc()) for n in
             (nodes.apply(j) for j in range(nodes.size()))},
            {e.fromId(): e.toId() for e in
             (edges.apply(j) for j in range(edges.size()))},
        ))
    return graphs


def _sort_keys(desc):
    """Column names of a ``Sort`` node's description, in key order."""
    import re

    return re.findall(r"(\w+)#\d+ (?:ASC|DESC)", desc)


def _assert_bucket_files_layout(data_dir, tiebreak=()):
    """Every file of a bucketed output: zstd pages, ``ts`` (when present)
    as INT64 microseconds adjusted to UTC, rows strictly ascending on
    ``(conv_id, turn_idx, *tiebreak)``."""
    import glob
    import json

    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(data_dir, "bucket=*", "*.parquet"))
    assert files, data_dir
    key = ("conv_id", "turn_idx", *tiebreak)
    for f in files:
        pf = pq.ParquetFile(f)
        md = pf.metadata
        assert {md.row_group(g).column(c).compression
                for g in range(md.num_row_groups)
                for c in range(md.num_columns)} == {"ZSTD"}, f
        names = [md.schema.column(c).name for c in range(md.num_columns)]
        if "ts" in names:
            col = md.schema.column(names.index("ts"))
            logical = json.loads(col.logical_type.to_json())
            assert col.physical_type == "INT64", f
            assert (logical["Type"], logical["timeUnit"], logical["isAdjustedToUTC"]) \
                == ("Timestamp", "microseconds", True), (f, logical)
        t = pf.read(columns=list(key))
        rows = list(zip(*(t.column(c).to_pylist() for c in key)))
        assert all(a < b for a, b in zip(rows, rows[1:])), f


def test_run_extraction_one_file_per_bucket(spark, transcripts_df, out_dir):
    """Rows are clustered by bucket before the writes: every bucket of
    every bucketed output is one file (not one per scan task), lineage
    and manifest stay one file each across runs and are written by no
    Spark job, lineage equals a per-bucket aggregate of the written
    turns, and the write plans carry exactly one bucket exchange, after
    the extract UDF.  Each of those writes sorts once, on a key that
    begins ``bucket, conv_id, turn_idx``, and writes zstd pages with an
    INT64 microsecond ``ts``."""
    import glob
    from pyspark.sql import functions as F

    since = max(_sql_execution_ids(_sql_status_store(spark)), default=-1)

    def one_file(sub):
        assert glob.glob(os.path.join(out_dir, sub, "*")) == [
            os.path.join(out_dir, sub, sub + ".parquet")], sub

    r1 = run_extraction(spark, transcripts_df, out_dir, run_id="r1", n_buckets=8)
    assert r1.buckets_processed == 8
    one_file("lineage")
    one_file("manifest")
    # resume after a partial commit: only the remaining buckets run
    _keep_manifest_buckets(out_dir, range(4))
    r2 = run_extraction(spark, transcripts_df, out_dir, run_id="r2", n_buckets=8)
    assert (r2.buckets_processed, r2.buckets_skipped) == (4, 4)
    one_file("lineage")
    one_file("manifest")

    n_buckets = len(_table_rows(os.path.join(out_dir, "lineage")))  # buckets with turns
    for sub in ("turns_extracted", "product_spans"):
        files = _files_per_bucket(os.path.join(out_dir, sub))
        assert len(files) == n_buckets, sub
        assert set(files.values()) == {1}, (sub, files)
        # the commit leaves only the bucket dirs behind
        assert sorted(os.listdir(os.path.join(out_dir, sub))) == sorted(files), sub

    turns = spark.read.parquet(os.path.join(out_dir, "turns_extracted"))
    expected = (
        turns.groupBy("bucket")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum("n_spans").alias("n_spans"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum(F.when(F.col("parse_error"), 1).otherwise(0)).alias("n_errors"),
            F.countDistinct("conv_id").alias("n_convs"),
        )
        .withColumn("run_id", F.when(F.col("bucket") < 4, "r1").otherwise("r2"))
    )
    lineage = spark.read.parquet(os.path.join(out_dir, "lineage"))
    expected = expected.select(*lineage.columns)
    assert [(f.name, f.dataType) for f in lineage.schema] == [
        (f.name, f.dataType) for f in expected.schema
    ]
    assert sorted(lineage.collect()) == sorted(expected.collect())

    writes = 0
    for nodes, edges in _sql_graphs_since(spark, since):
        sink = [d for name, d in nodes.values() if name.startswith("Execute Insert")]
        if not sink:
            continue
        # lineage and manifest are committed by the driver, not by Spark
        assert not any(os.path.join(out_dir, o) in sink[0]
                       for o in ("lineage", "manifest")), sink[0]
        if not any(o in sink[0] for o in ("turns_extracted", "product_spans")):
            continue
        writes += 1
        exchanges = [i for i, (name, d) in nodes.items()
                     if name == "Exchange" and d.startswith("Exchange hashpartitioning(bucket")]
        assert len(exchanges) == 1, sink[0]
        # the exchange sits above the UDF: walk up from ArrowEvalPython
        (node,) = [i for i, (name, _) in nodes.items() if name == "ArrowEvalPython"]
        ancestors = set()
        while node in edges:
            node = edges[node]
            ancestors.add(node)
        assert exchanges[0] in ancestors
        (sort,) = [d for name, d in nodes.values() if name == "Sort"]
        tiebreak = ["span_seq"] if "product_spans" in sink[0] else []
        assert _sort_keys(sort) == ["bucket", "conv_id", "turn_idx", *tiebreak], sort
    assert writes == 4  # turns + spans, two runs
    _assert_bucket_files_layout(os.path.join(out_dir, "turns_extracted"))
    _assert_bucket_files_layout(os.path.join(out_dir, "product_spans"), ("span_seq",))


def _spark_jobs(spark, fn):
    """(Spark jobs that ``fn()`` ran, its result), counted by job group
    through the status tracker."""
    import uuid

    sc = spark.sparkContext
    group = uuid.uuid4().hex
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), result


def _content_sum(spark, path):
    """Order-free content sum of a parquet output: Σ xxhash64 of every
    column of every row."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    return df.agg(F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))).first()[0]


def _table_rows(path):
    """(bucket, run_id) of every row of a driver-written table."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["bucket", "run_id"])
    return sorted(zip(t["bucket"].to_pylist(), t["run_id"].to_pylist()))


def test_run_extraction_spark_jobs(spark, transcripts_df, out_dir):
    """The bookkeeping runs no Spark job: a fresh run is the cache-filling
    aggregate plus the two bucketed writes, and a run over a dir whose
    manifest lists every bucket returns without touching the input."""
    n, r1 = _spark_jobs(spark, lambda: run_extraction(
        spark, transcripts_df, out_dir, run_id="r1", n_buckets=4))
    assert r1.buckets_processed == 4
    assert n <= 5, n
    n, r2 = _spark_jobs(spark, lambda: run_extraction(
        spark, transcripts_df, out_dir, run_id="r2", n_buckets=4))
    assert (r2.buckets_processed, r2.buckets_skipped) == (0, 4)
    assert n == 0, n


def test_run_extraction_rerun_keeps_one_manifest_row_per_bucket(
    spark, transcripts_df, out_dir
):
    """A ``resume=False`` rerun replaces each bucket's manifest and lineage
    rows instead of appending a second one."""
    r1 = run_extraction(spark, transcripts_df, out_dir, run_id="r1", n_buckets=8)
    r2 = run_extraction(spark, transcripts_df, out_dir, run_id="r2", n_buckets=8,
                        resume=False)
    assert r2.buckets_processed == r1.buckets_processed == 8
    expected = {"manifest": 8,
                "lineage": len(_files_per_bucket(os.path.join(out_dir, "turns_extracted")))}
    for sub, n in expected.items():
        rows = _table_rows(os.path.join(out_dir, sub))
        assert len(rows) == n, (sub, rows)
        assert {run for _, run in rows} == {"r2"}, (sub, rows)


def test_run_extraction_crash_before_manifest_reruns_clean(
    spark, transcripts_df, out_dir, monkeypatch
):
    """A crash after the lineage rename and before the manifest's leaves
    no bucket committed; the rerun under a new run id equals a clean run:
    same turns and spans, one lineage and one manifest row per bucket,
    all from the rerun."""
    from text_extractor_for_bioeconomic_products_spark.plans import pipeline

    clean_dir = out_dir + "_clean"
    clean = run_extraction(spark, transcripts_df, clean_dir, run_id="clean", n_buckets=8)

    commit = pipeline._commit_table

    def crash_at_manifest(path, rows):
        if os.path.basename(path) == "manifest":
            raise RuntimeError("injected crash before the manifest commit")
        commit(path, rows)

    monkeypatch.setattr(pipeline, "_commit_table", crash_at_manifest)
    with pytest.raises(RuntimeError, match="injected crash"):
        run_extraction(spark, transcripts_df, out_dir, run_id="c1", n_buckets=8)
    monkeypatch.undo()
    assert {run for _, run in _table_rows(os.path.join(out_dir, "lineage"))} == {"c1"}
    assert not os.path.exists(os.path.join(out_dir, "manifest"))

    r2 = run_extraction(spark, transcripts_df, out_dir, run_id="c2", n_buckets=8)
    assert r2.buckets_processed == clean.buckets_processed
    for sub in ("turns_extracted", "product_spans"):
        assert _content_sum(spark, os.path.join(out_dir, sub)) == \
            _content_sum(spark, os.path.join(clean_dir, sub)), sub
    for sub in ("lineage", "manifest"):
        rows = _table_rows(os.path.join(out_dir, sub))
        assert [b for b, _ in rows] == [b for b, _ in
                                        _table_rows(os.path.join(clean_dir, sub))], sub
        assert {run for _, run in rows} == {"c2"}, (sub, rows)


def test_run_extraction_temp_leftover_skipped_then_removed(
    spark, transcripts_df, out_dir
):
    """A temp file left by a crash mid-write (dot-named, truncated) is
    skipped by both Spark and pyarrow readers, and the next commit
    removes it."""
    import glob

    import pyarrow.parquet as pq

    r = run_extraction(spark, transcripts_df, out_dir, run_id="r1", n_buckets=8)
    expected = {"manifest": r.buckets_processed,
                "lineage": len(_files_per_bucket(os.path.join(out_dir, "turns_extracted")))}
    for sub, n in expected.items():
        table = os.path.join(out_dir, sub, sub + ".parquet")
        with open(table, "rb") as src, \
                open(os.path.join(out_dir, sub, f".{sub}.parquet.dead.tmp"), "wb") as dst:
            dst.write(src.read()[:100])
        d = os.path.join(out_dir, sub)
        assert spark.read.parquet(d).count() == n
        assert pq.read_table(d).num_rows == n
    run_extraction(spark, transcripts_df, out_dir, run_id="r2", n_buckets=8,
                   resume=False)
    for sub, n in expected.items():
        assert os.listdir(os.path.join(out_dir, sub)) == [sub + ".parquet"], sub
        assert len(_table_rows(os.path.join(out_dir, sub))) == n
    assert not glob.glob(os.path.join(out_dir, "*", ".*.tmp"))


def test_run_extraction_refuses_per_bucket_lineage_layout(
    spark, transcripts_df, out_dir
):
    """An output dir whose lineage is in the per-bucket directory layout
    of earlier versions fails before any work instead of gaining a
    one-file table beside it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    old = os.path.join(out_dir, "lineage", "bucket=0")
    os.makedirs(old)
    pq.write_table(pa.table({"n_turns": [1], "run_id": ["old"]}),
                   os.path.join(old, "part-00000.parquet"))
    with pytest.raises(ValueError, match="per-bucket layout"):
        run_extraction(spark, transcripts_df, out_dir, run_id="r1", n_buckets=8)
    assert sorted(os.listdir(out_dir)) == ["lineage"]
    assert os.listdir(os.path.join(out_dir, "lineage")) == ["bucket=0"]


def test_run_extraction_output_independent_of_input_order(
    spark, transcripts_df, tmp_path
):
    """The same transcripts, scanned from files whose names sort in
    opposite orders (and whose rows run in opposite orders), give the
    same bucket files: equal rows in equal order, equal file sizes."""
    import glob
    import shutil

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from text_extractor_for_bioeconomic_products_spark.sources.transcripts import (
        read_transcripts,
    )

    half = F.pmod(F.xxhash64("conv_id"), F.lit(2))
    inputs = {"x": str(tmp_path / "in_x"), "y": str(tmp_path / "in_y")}
    for label, first, desc in (("x", 0, False), ("y", 1, True)):
        os.makedirs(inputs[label])
        for i, h in enumerate((first, 1 - first)):
            keys = [F.col(c).desc() if desc else F.col(c) for c in ("conv_id", "turn_idx")]
            tmp = str(tmp_path / f"tmp_{label}{i}")
            (transcripts_df.filter(half == h).orderBy(*keys)
             .coalesce(1).write.parquet(tmp))
            (part,) = glob.glob(os.path.join(tmp, "*.parquet"))
            shutil.move(part, os.path.join(inputs[label], f"part-{i}.parquet"))

    outs = {}
    for label, path in inputs.items():
        outs[label] = str(tmp_path / f"out_{label}")
        run_extraction(spark, read_transcripts(spark, path), outs[label],
                       run_id="r", n_buckets=4)

    for sub in ("turns_extracted", "product_spans"):
        files = {
            label: sorted(glob.glob(os.path.join(d, sub, "bucket=*", "*.parquet")))
            for label, d in outs.items()
        }
        assert len(files["x"]) == len(files["y"]) == 4, files
        for fx, fy in zip(files["x"], files["y"]):
            assert os.path.basename(os.path.dirname(fx)) == os.path.basename(os.path.dirname(fy))
            assert pq.read_table(fx).to_pylist() == pq.read_table(fy).to_pylist(), fx
            assert os.path.getsize(fx) == os.path.getsize(fy), fx


def _python_daemons(parent_pid):
    """pids of the ``pyspark.daemon`` processes whose parent is
    ``parent_pid`` (one per executor Python worker pool)."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmdline = f.read()
        except (OSError, IndexError, ValueError):
            continue  # exited while listing
        if ppid == parent_pid and b"pyspark.daemon" in cmdline:
            pids.append(int(d))
    return pids


@pytest.mark.skipif(not os.path.isdir("/proc"), reason="needs procfs")
def test_one_python_worker_pool_per_executor(spark, transcripts_df):
    """Python-RDD work (createDataFrame of a list) and the Arrow extract
    UDF share one daemon: Spark keys daemons by worker env, so a runner
    whose env differs from the UDF's would start a second pool of idle
    workers on every executor."""
    from pyspark import SparkContext
    from pyspark.sql import functions as F

    rows = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string").collect()
    assert len(rows) == 2
    # an action that needs the UDF's output (a bare count prunes the UDF)
    (agg,) = extract_turns(transcripts_df).agg(
        F.count("clean_text").alias("n")).collect()
    assert agg["n"] > 0
    jvm = SparkContext._gateway.proc.pid
    assert len(_python_daemons(jvm)) == 1


def test_run_extraction_splits_hot_bucket(spark, transcripts_df, out_dir):
    """A bucket larger than the AQE advisory partition size is written by
    several tasks (more than one file) instead of being forced through
    one; the content is the same as under the default setting."""
    from pyspark.sql import functions as F
    from text_extractor_for_bioeconomic_products_spark.operators.extract import (
        TURNS_EXTRACTED_COLS,
    )

    def content(d):
        turns = spark.read.parquet(os.path.join(d, "turns_extracted"))
        h = turns.agg(F.sum(F.xxhash64(*TURNS_EXTRACTED_COLS).cast("decimal(38,0)")))
        hot = turns.groupBy("bucket").count().orderBy(F.desc("count"), "bucket").first()
        return h.first()[0], hot["bucket"]

    ref_dir, skew_dir = out_dir + "_ref", out_dir + "_skew"
    run_extraction(spark, transcripts_df, ref_dir, run_id="ref", n_buckets=8)
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    saved = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "16KB")
        run_extraction(spark, transcripts_df, skew_dir, run_id="skew", n_buckets=8)
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)

    ref_hash, hot = content(ref_dir)
    skew_hash, _ = content(skew_dir)
    assert skew_hash == ref_hash
    ref_files = _files_per_bucket(os.path.join(ref_dir, "turns_extracted"))
    skew_files = _files_per_bucket(os.path.join(skew_dir, "turns_extracted"))
    assert set(ref_files.values()) == {1}
    assert skew_files[f"bucket={hot}"] > 1
    # the split bucket still has one lineage row
    lineage = spark.read.parquet(os.path.join(skew_dir, "lineage"))
    assert lineage.count() == lineage.select("bucket").distinct().count() == len(ref_files)


def test_quality_observations_strings(spark, transcripts_df):
    """A4 observations (response_parser.py:429-437): threshold strings."""
    from text_extractor_for_bioeconomic_products_spark.operators.extract import (
        quality_metrics,
    )
    qm = quality_metrics(explode_spans(extract_turns(transcripts_df))).collect()
    assert len(qm) > 0
    for r in qm:
        if r["confianca_media"] >= 0.8:
            assert "Boa qualidade geral dos dados" in r["observacoes"]
        for o in r["observacoes"]:
            assert o in {
                "Muitos produtos com baixa confiança",
                "Poucos nomes científicos identificados",
                "Boa qualidade geral dos dados",
            }


def test_cap_chunks_explicit_truncation(spark):
    from text_extractor_for_bioeconomic_products_spark.operators.extract import (
        cap_chunks,
    )
    df = spark.createDataFrame(
        [(1, list("abcdefg")), (2, list("ab")), (3, [])],
        "id int, chunks array<string>",
    )
    rows = {r["id"]: r for r in cap_chunks(df, max_chunks=5).collect()}
    assert rows[1]["chunks"] == list("abcde") and rows[1]["n_chunks_dropped"] == 2
    assert rows[2]["chunks"] == list("ab") and rows[2]["n_chunks_dropped"] == 0
    assert rows[3]["chunks"] == [] and rows[3]["n_chunks_dropped"] == 0


def test_merge_turns_keyed_upsert(spark, transcripts_df, tmp_path):
    """Row-granular MERGE semantics: updates replace matched keys, inserts
    add new keys, rows outside the new key set survive, and only buckets
    holding new keys are rewritten."""
    from pyspark.sql import functions as F
    from text_extractor_for_bioeconomic_products_spark.plans.pipeline import (
        merge_turns,
    )

    turns_dir = str(tmp_path / "turns")
    base = extract_turns(transcripts_df).drop("spans")
    merge_turns(spark, turns_dir, base, n_buckets=8)
    n_base = spark.read.parquet(turns_dir).count()

    # update 3 existing turns (same keys, new lang value) + insert 2 new
    upd = (
        base.orderBy("conv_id", "turn_idx").limit(3)
        .withColumn("lang", F.lit("MERGED"))
    )
    ins = (
        base.orderBy("conv_id", "turn_idx").limit(2)
        .withColumn("turn_idx", F.col("turn_idx") + 100000)
    )
    stats = merge_turns(spark, turns_dir, upd.unionByName(ins), n_buckets=8)

    after = spark.read.parquet(turns_dir)
    assert after.count() == n_base + 2
    assert after.filter(F.col("lang") == "MERGED").count() == 3
    # key uniqueness preserved
    assert after.groupBy("conv_id", "turn_idx").count().filter("count > 1").count() == 0
    # only the buckets holding new keys were rewritten
    assert 0 < len(stats["buckets_rewritten"]) <= 8
    # the shared session keeps static partition overwrite: a dynamic mode
    # left set would silently turn a later plain partitioned overwrite
    # elsewhere into a per-partition one
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode").lower()
        == "static"
    )


def test_merge_turns_one_file_per_bucket(spark, transcripts_df, tmp_path):
    """merge_turns clusters the merged rows by bucket: a base merge and two
    upserts into the same bucket leave every bucket as one file instead
    of adding a file per merge to each rewritten bucket.  Each write
    reads the table directly (no checkpoint), holds the one bucket
    exchange, sorts once, on a key that begins ``bucket, conv_id,
    turn_idx``, and writes zstd pages with an INT64 microsecond ``ts``."""
    from pyspark.sql import functions as F
    from text_extractor_for_bioeconomic_products_spark.plans.pipeline import (
        merge_turns,
    )

    turns_dir = str(tmp_path / "turns")
    base = extract_turns(transcripts_df).drop("spans").cache()
    since = max(_sql_execution_ids(_sql_status_store(spark)), default=-1)
    merge_turns(spark, turns_dir, base, n_buckets=8)
    assert set(_files_per_bucket(turns_dir).values()) == {1}

    hot = (
        base.withColumn("b", F.pmod(F.xxhash64("conv_id"), F.lit(8)).cast("int"))
        .filter(F.col("b") == base.select(
            F.pmod(F.xxhash64("conv_id"), F.lit(8)).cast("int")).first()[0])
        .drop("b").orderBy("conv_id", "turn_idx")
    )
    upd = hot.limit(3).withColumn("lang", F.lit("MERGED"))
    ins = hot.limit(2).withColumn("turn_idx", F.col("turn_idx") + 100000)
    for delta in (upd, ins):
        stats = merge_turns(spark, turns_dir, delta, n_buckets=8)
        assert len(stats["buckets_rewritten"]) == 1
        assert set(_files_per_bucket(turns_dir).values()) == {1}
    assert spark.read.parquet(turns_dir).count() == base.count() + 2
    # the _meta sidecar still records the modulus as an int
    (meta,) = spark.read.json(turns_dir + "_meta").collect()
    assert meta["n_buckets"] == 8 and isinstance(meta["n_buckets"], int)

    writes = 0
    for nodes, _edges in _sql_graphs_since(spark, since):
        exchanges = [d for name, d in nodes.values() if name == "Exchange"]
        sink = [d for name, d in nodes.values() if name.startswith("Execute Insert")]
        is_write = bool(sink) and turns_dir + "/.staging-" in sink[0]
        # no checkpoint: the write is the only execution that rebalances
        assert is_write or not any("REBALANCE" in d for d in exchanges), exchanges
        if not is_write:
            continue
        writes += 1
        (bucket_exchange,) = [d for d in exchanges
                              if d.startswith("Exchange hashpartitioning(bucket")]
        assert "REBALANCE" in bucket_exchange, bucket_exchange
        (sort,) = [d for name, d in nodes.values() if name == "Sort"]
        assert _sort_keys(sort) == ["bucket", "conv_id", "turn_idx"], sort
    assert writes == 3
    assert sorted(os.listdir(turns_dir)) == _bucket_dirs(turns_dir)  # no leftovers
    _assert_bucket_files_layout(turns_dir)
    base.unpersist()


def test_merge_turns_bucket_files_share_one_schema(spark, transcripts_df, tmp_path):
    """Every bucket file of a merged table carries one schema, whatever
    its history: a bucket first written from extraction output and one
    rewritten by an upsert (whose kept rows come back from parquet) have
    equal footers.  The upsert re-applies three rows unchanged, so the
    table's content sum must not move: no value, null or not, changes."""
    import glob

    import pyarrow.parquet as pq
    from text_extractor_for_bioeconomic_products_spark.plans.pipeline import (
        merge_turns,
    )

    turns_dir = str(tmp_path / "turns")
    base = extract_turns(transcripts_df).drop("spans")
    merge_turns(spark, turns_dir, base, n_buckets=8)
    before = _content_sum(spark, turns_dir)
    stats = merge_turns(
        spark, turns_dir, base.orderBy("conv_id", "turn_idx").limit(3), n_buckets=8
    )
    files = glob.glob(os.path.join(turns_dir, "bucket=*", "*.parquet"))
    assert len(stats["buckets_rewritten"]) < len(files)  # both histories present
    footers = set()
    for f in files:
        md = pq.ParquetFile(f).metadata
        columns = tuple((c.name, c.physical_type, c.max_definition_level)
                        for c in md.schema)
        footers.add((columns, md.metadata[b"org.apache.spark.sql.parquet.row.metadata"]))
    assert len(footers) == 1, footers
    assert _content_sum(spark, turns_dir) == before


def test_merge_turns_rejects_bad_inputs(spark, transcripts_df, tmp_path):
    """MERGE contract guards: duplicate source keys error (Iceberg's
    'multiple matching rows'), and a mismatched bucket modulus errors
    instead of silently duplicating matched keys."""
    import pytest as _pytest
    from text_extractor_for_bioeconomic_products_spark.plans.pipeline import (
        merge_turns,
    )

    turns_dir = str(tmp_path / "turns")
    base = extract_turns(transcripts_df).drop("spans").limit(50)
    merge_turns(spark, turns_dir, base, n_buckets=8)
    with _pytest.raises(ValueError, match="duplicate"):
        merge_turns(spark, turns_dir, base.unionByName(base.limit(1)), n_buckets=8)
    with _pytest.raises(ValueError, match="n_buckets"):
        merge_turns(spark, turns_dir, base.limit(1), n_buckets=16)


def test_merge_turns_spark_jobs(spark, transcripts_df, tmp_path):
    """An upsert into an existing table runs one pre-write aggregate, no
    checkpoint, and no Spark job for the ``_meta`` sidecar or the commit:
    at most 6 jobs per call."""
    from text_extractor_for_bioeconomic_products_spark.plans.pipeline import (
        merge_turns,
    )

    turns_dir = str(tmp_path / "turns")
    base = extract_turns(transcripts_df).drop("spans").cache()
    merge_turns(spark, turns_dir, base, n_buckets=8)
    since = max(_sql_execution_ids(_sql_status_store(spark)), default=-1)
    n, stats = _spark_jobs(spark, lambda: merge_turns(
        spark, turns_dir, base.limit(5), n_buckets=8))
    assert stats["n_upserted"] == 5
    assert n <= 6, n
    for nodes, _edges in _sql_graphs_since(spark, since):
        assert not any(turns_dir + "_meta" in d for _, d in nodes.values())
    base.unpersist()


def test_merge_turns_reads_spark_written_meta(spark, transcripts_df, tmp_path):
    """A ``_meta`` sidecar that Spark wrote (a ``part-*.json`` file) is
    still read: the modulus it records is enforced and kept."""
    import shutil

    import pytest as _pytest
    from text_extractor_for_bioeconomic_products_spark.plans.pipeline import (
        merge_turns,
    )

    turns_dir = str(tmp_path / "turns")
    meta_dir = turns_dir + "_meta"
    base = extract_turns(transcripts_df).drop("spans").limit(50)
    merge_turns(spark, turns_dir, base, n_buckets=8)
    assert os.listdir(meta_dir) == ["n_buckets.json"]
    shutil.rmtree(meta_dir)
    spark.createDataFrame([(8,)], "n_buckets int").coalesce(1).write.json(meta_dir)
    with _pytest.raises(ValueError, match="n_buckets=8"):
        merge_turns(spark, turns_dir, base.limit(1), n_buckets=16)
    merge_turns(spark, turns_dir, base.limit(1), n_buckets=8)
    (meta,) = spark.read.json(meta_dir).collect()
    assert meta["n_buckets"] == 8


def test_run_extraction_resume_skips_empty_buckets(spark, transcripts_df, out_dir):
    """Every bucket a run scans is committed, one the input has no rows
    for included, so a resume over the same input runs no Spark job.  At
    8 buckets the fixture leaves a bucket empty; were it left out of the
    manifest, every resume would rescan the input for it."""
    run_extraction(spark, transcripts_df, out_dir, run_id="r1", n_buckets=8)
    with_rows = _bucket_dirs(os.path.join(out_dir, "turns_extracted"))
    assert len(with_rows) < 8  # the case under test
    assert len(_table_rows(os.path.join(out_dir, "lineage"))) == len(with_rows)
    assert [b for b, _ in _table_rows(os.path.join(out_dir, "manifest"))] == list(range(8))
    n, r2 = _spark_jobs(spark, lambda: run_extraction(
        spark, transcripts_df, out_dir, run_id="r2", n_buckets=8))
    assert (r2.buckets_processed, r2.buckets_skipped) == (0, 8)
    assert n == 0, n


CRASH_POINTS = ("staged", "recorded", "mid_swap", "swapped")


class _Crash(RuntimeError):
    pass


def _bucket_dirs(table_dir):
    return sorted(n for n in os.listdir(table_dir) if n.startswith("bucket="))


def _leftovers(table_dir):
    """Staging dirs and commit records left in a bucketed table."""
    return [n for n in os.listdir(table_dir)
            if n.startswith(".staging-") or n == "_pending.json"]


def _inject_crash(monkeypatch, point):
    """Make the next bucketed-table commit fail at ``point``:

    staged    after the staging write, before the record is published;
    recorded  right after the record is published;
    mid_swap  with one live bucket removed and its staged twin not moved;
    swapped   after every bucket moved, before the record is cleared."""
    import shutil

    from text_extractor_for_bioeconomic_products_spark.plans import pipeline

    publish, rename, rmtree = pipeline._publish, os.rename, shutil.rmtree

    def crash_publish(path, name, write):
        if name == pipeline.PENDING and point == "staged":
            raise _Crash(point)
        publish(path, name, write)
        if name == pipeline.PENDING and point == "recorded":
            raise _Crash(point)

    def crash_rename(src, dst):
        if os.path.basename(os.path.dirname(src)).startswith(".staging-"):
            raise _Crash(point)
        rename(src, dst)

    def crash_rmtree(path, *args, **kwargs):
        if os.path.basename(path).startswith(".staging-"):
            raise _Crash(point)
        rmtree(path, *args, **kwargs)

    if point in ("staged", "recorded"):
        monkeypatch.setattr(pipeline, "_publish", crash_publish)
    elif point == "mid_swap":
        monkeypatch.setattr(os, "rename", crash_rename)
    else:
        monkeypatch.setattr(shutil, "rmtree", crash_rmtree)


def _assert_crashed_at(table_dir, live_before, point):
    names = os.listdir(table_dir)
    assert len([n for n in names if n.startswith(".staging-")]) == 1, names
    assert ("_pending.json" in names) == (point != "staged"), names
    missing = set(live_before) - set(_bucket_dirs(table_dir))
    assert len(missing) == (point == "mid_swap"), (point, missing)


def _copy_turns_table(turns_dir, dst):
    import shutil

    shutil.copytree(turns_dir, dst)
    shutil.copytree(turns_dir + "_meta", dst + "_meta")
    return dst


@pytest.fixture(scope="module")
def merge_case(spark, transcripts_df, tmp_path_factory):
    """(a merged base table, an upsert delta of 3 updates and 2 inserts,
    the content sum of the table after a clean upsert of the delta)."""
    from pyspark.sql import functions as F
    from text_extractor_for_bioeconomic_products_spark.plans.pipeline import (
        merge_turns,
    )

    root = tmp_path_factory.mktemp("merge_case")
    base = extract_turns(transcripts_df).drop("spans")
    first = base.orderBy("conv_id", "turn_idx")
    delta = first.limit(3).withColumn("lang", F.lit("MERGED")).unionByName(
        first.limit(2).withColumn("turn_idx", F.col("turn_idx") + 100000))
    base_dir = str(root / "base")
    merge_turns(spark, base_dir, base, n_buckets=8)
    clean_dir = _copy_turns_table(base_dir, str(root / "clean"))
    merge_turns(spark, clean_dir, delta, n_buckets=8)
    return base_dir, delta, _content_sum(spark, clean_dir)


@pytest.mark.parametrize("point", CRASH_POINTS)
def test_merge_turns_crash_at_each_commit_point(
    spark, merge_case, tmp_path, monkeypatch, point
):
    """An upsert that crashes at any point of its commit, then the
    stream's replay of the same batch, leave the table a clean upsert
    leaves, and no staging dir or commit record.  At ``mid_swap`` a
    bucket's old rows exist only in the staging dir; the replay's
    roll-forward keeps them."""
    from text_extractor_for_bioeconomic_products_spark.plans.pipeline import (
        merge_turns,
    )

    base_dir, delta, clean_sum = merge_case
    turns_dir = _copy_turns_table(base_dir, str(tmp_path / "turns"))
    live = _bucket_dirs(turns_dir)
    _inject_crash(monkeypatch, point)
    with pytest.raises(_Crash):
        merge_turns(spark, turns_dir, delta, n_buckets=8)
    monkeypatch.undo()
    _assert_crashed_at(turns_dir, live, point)

    stats = merge_turns(spark, turns_dir, delta, n_buckets=8)  # the replay
    assert stats["n_upserted"] == 5
    assert _content_sum(spark, turns_dir) == clean_sum
    assert _leftovers(turns_dir) == []


def test_merge_turns_first_write_crash_then_replay(
    spark, transcripts_df, tmp_path, monkeypatch
):
    """A first write that crashes before its commit record leaves a table
    dir holding only a staging dir; the replay clears it away and writes
    the table as a clean first write does."""
    from text_extractor_for_bioeconomic_products_spark.plans.pipeline import (
        merge_turns,
    )

    base = (extract_turns(transcripts_df).drop("spans")
            .orderBy("conv_id", "turn_idx").limit(50))
    clean_dir, turns_dir = str(tmp_path / "clean"), str(tmp_path / "turns")
    merge_turns(spark, clean_dir, base, n_buckets=8)
    _inject_crash(monkeypatch, "staged")
    with pytest.raises(_Crash):
        merge_turns(spark, turns_dir, base, n_buckets=8)
    monkeypatch.undo()
    assert [n[:9] for n in os.listdir(turns_dir)] == [".staging-"]

    merge_turns(spark, turns_dir, base, n_buckets=8)
    assert _content_sum(spark, turns_dir) == _content_sum(spark, clean_dir)
    assert _leftovers(turns_dir) == []


@pytest.fixture(scope="module")
def extraction_case(spark, transcripts_df, tmp_path_factory):
    """(the out dir of a committed run, its turns and spans content sums)."""
    out = str(tmp_path_factory.mktemp("extraction_case") / "out")
    run_extraction(spark, transcripts_df, out, run_id="clean", n_buckets=8)
    return out, {sub: _content_sum(spark, os.path.join(out, sub))
                 for sub in ("turns_extracted", "product_spans")}


@pytest.mark.parametrize("point", CRASH_POINTS)
def test_run_extraction_rerun_crash_at_each_commit_point(
    spark, transcripts_df, extraction_case, tmp_path, monkeypatch, point
):
    """A ``resume=False`` rerun that crashes at any point of its turns
    commit, then the next default run, leave the turns and spans of a
    clean run and no staging dir or commit record.  At ``mid_swap`` a
    turns bucket is gone while the manifest still lists it; the default
    run scans nothing, and its roll-forward restores the bucket."""
    import shutil

    clean_dir, sums = extraction_case
    out_dir = str(tmp_path / "out")
    shutil.copytree(clean_dir, out_dir)
    turns_dir = os.path.join(out_dir, "turns_extracted")
    live = _bucket_dirs(turns_dir)
    _inject_crash(monkeypatch, point)
    with pytest.raises(_Crash):
        run_extraction(spark, transcripts_df, out_dir, run_id="c1", n_buckets=8,
                       resume=False)
    monkeypatch.undo()
    _assert_crashed_at(turns_dir, live, point)

    r = run_extraction(spark, transcripts_df, out_dir, run_id="c2", n_buckets=8)
    assert (r.buckets_processed, r.buckets_skipped) == (0, 8)
    for sub, h in sums.items():
        d = os.path.join(out_dir, sub)
        assert _content_sum(spark, d) == h, sub
        assert _leftovers(d) == [], sub


def test_xml_html_excel_sinks(spark, transcripts_df, tmp_path):
    """S10/S11 export surface: XML parses back with matching counts, the
    HTML report carries the census, and the Excel sink writes a REAL
    3-sheet workbook through the built-in stdlib OOXML writer (round 3 —
    previously an import-gated NotImplementedError), validated by
    unzipping and parsing the parts back."""
    import xml.etree.ElementTree as ET
    import zipfile
    from text_extractor_for_bioeconomic_products_spark.sources.sinks import (
        write_products_excel, write_report_html, write_spans_xml,
    )

    spans = explode_spans(extract_turns(transcripts_df.limit(300)))
    n = spans.count()
    assert n > 0

    xml_path = str(tmp_path / "spans.xml")
    write_spans_xml(spans, xml_path)
    root = ET.parse(xml_path).getroot()
    assert int(root.get("count")) == n and root.get("truncated") == "false"
    assert len(root.findall("product")) == n

    html_path = str(tmp_path / "report.html")
    write_report_html(spans, html_path)
    doc = open(html_path, encoding="utf-8").read()
    assert f"Total spans: {n}" in doc and "<table" in doc

    xlsx_path = str(tmp_path / "x.xlsx")
    write_products_excel(spans, xlsx_path)
    ns = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
    with zipfile.ZipFile(xlsx_path) as z:
        assert z.testzip() is None
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        names = [s.get("name") for s in wb.iter(f"{ns}sheet")]
        assert names == ["Products", "Uses", "Summary"]
        sheet1 = ET.fromstring(z.read("xl/worksheets/sheet1.xml"))
        rows = sheet1.findall(f"{ns}sheetData/{ns}row")
        assert len(rows) == n + 1  # header + one row per span
        header = [t.text for t in rows[0].iter(f"{ns}t")]
        assert "nome_popular" in header and "conv_id" in header
        # a known gazetteer surface appears as an inline string somewhere
        body_texts = {t.text for t in sheet1.iter(f"{ns}t")}
        assert any(x in body_texts for x in ("cacao", "açaí", "tagua", "maca"))
        summary = ET.fromstring(z.read("xl/worksheets/sheet3.xml"))
        srows = summary.findall(f"{ns}sheetData/{ns}row")
        assert len(srows) >= 2  # header + ≥1 category census row


def test_star_contraction_matches_pointer_jumping(spark):
    """connected_components_star (large-star/small-star, the 100 TB
    variant) produces identical components to the pointer-jumping
    implementation on adversarial graph shapes."""
    from text_extractor_for_bioeconomic_products_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    chain = [(i, i + 1) for i in range(0, 40)]          # long diameter
    star = [(100, 100 + i) for i in range(1, 20)]        # hub
    clique = [(200 + i, 200 + j) for i in range(6) for j in range(i + 1, 6)]
    pairs2 = [(300, 301), (302, 303)]                    # isolated pairs
    rev = [(401, 400), (402, 401)]                       # edges given high->low
    selfp = [(500, 500), (501, 502), (502, 502)]         # self-pair singleton
    for name, edges in [
        ("chain", chain), ("star", star), ("clique", clique),
        ("pairs", pairs2), ("rev", rev), ("selfp", selfp),
        ("all", chain + star + clique + pairs2 + rev + selfp),
    ]:
        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        a = {(r["component"], r["n_docs"], r["members"])
             for r in connected_components(df).collect()}
        # hybrid default (driver union-find finish) AND forced
        # all-distributed star rounds must both match pointer jumping
        b = {(r["component"], r["n_docs"], r["members"])
             for r in connected_components_star(df).collect()}
        c = {(r["component"], r["n_docs"], r["members"])
             for r in connected_components_star(
                 df, driver_finish_max_edges=0).collect()}
        assert a == b, f"{name} hybrid: {a ^ b}"
        assert a == c, f"{name} distributed: {a ^ c}"


def test_star_contraction_matches_on_real_candidates(spark):
    """Same equivalence on the actual sf0.001 near-dup candidate edges."""
    from pyspark.sql import functions as F

    from text_extractor_for_bioeconomic_products_spark.operators.dedup import (
        DUP_EDGE_THRESHOLD,
        _banded_docs,
        _jaccard_pairs_from,
        connected_components,
        connected_components_star,
        load,
    )

    sf = "/root/testdata/sf0.001"
    docs = load(spark, sf, "documents")
    pairs = (
        _jaccard_pairs_from(docs, _banded_docs(docs))
        .filter(F.col("jaccard") >= DUP_EDGE_THRESHOLD)
        .select("doc_a", "doc_b")
    )
    a = {tuple(r) for r in connected_components(pairs).collect()}
    b = {tuple(r) for r in connected_components_star(pairs).collect()}
    c = {tuple(r) for r in connected_components_star(
        pairs, driver_finish_max_edges=0).collect()}
    assert a == b == c and len(a) > 0


def test_minhash_second_band_recall(spark):
    """Multi-band LSH recall: a planted near-dup pair whose FIRST band
    diverges (sig_0 prefix flips) but whose second band agrees must
    share a band key — the single-band key silently missed exactly
    this class.  The extra word 'ember' was searched offline to flip the
    seed-0 min-hash while preserving seeds 2 and 3."""
    import hashlib

    from pyspark.sql import functions as F

    from text_extractor_for_bioeconomic_products_spark.operators.dedup import (
        lsh_band_keys,
        minhash_signatures,
    )

    base = "cacao beans are harvested by river communities for food and trade"
    variant = base + " ember"

    def prefix(text, seed):
        return min(
            hashlib.md5((str(seed) + w).encode()).hexdigest()
            for w in set(text.lower().split())
        )[:8]

    # planted-pair preconditions (the fixture itself must stay adversarial)
    assert prefix(base, 0) != prefix(variant, 0)  # band 0 misses the pair
    assert prefix(base, 2) == prefix(variant, 2)
    assert prefix(base, 3) == prefix(variant, 3)  # band 1 catches it

    docs = spark.createDataFrame(
        [(1, base), (2, variant), (3, "totally unrelated words only here")],
        "doc_id long, text string",
    )
    bands = minhash_signatures(docs).select(F.explode(lsh_band_keys()).alias("band"))
    census = {
        r["band"]: r["count"]
        for r in bands.groupBy("band").count().filter("count > 1").collect()
    }
    band1_key = f"1:{prefix(base, 2)}|{prefix(base, 3)}"
    assert census == {band1_key: 2}  # caught by band 1, and ONLY band 1


def test_fuzzy_dedup_victims_pair_on_second_band(spark):
    """The curation job's victim set catches the planted pair of
    test_minhash_second_band_recall (word Jaccard 11/12, over
    DUP_EDGE_THRESHOLD): batch candidates share ANY band, as the
    streaming admission's do, so a pair whose first band differs is
    still verified and its non-canonical member dropped."""
    from text_extractor_for_bioeconomic_products_spark.operators.dedup import (
        fuzzy_dedup_victims,
    )

    base = "cacao beans are harvested by river communities for food and trade"
    docs = spark.createDataFrame(
        [(1, base), (2, base + " ember"), (3, "totally unrelated words only here")],
        "doc_id long, text string",
    )
    victims = fuzzy_dedup_victims(docs).collect()
    assert [r["doc_id"] for r in victims] == [2]


def test_fuzzy_dedup_victims_keep_one_per_linked_group(spark, monkeypatch):
    """Cluster rows that share a member form one group, and the group
    keeps only its minimum.  Over-full bands emit overlapping cluster
    rows (a doc in both the band-0 and the band-1 cluster); keeping each
    row's minimum would keep both 1 and 3 of the group {1, 3, 5}."""
    from text_extractor_for_bioeconomic_products_spark.operators import dedup

    clusters = spark.createDataFrame(
        [(1, 2, "1,5"), (3, 2, "3,5"), (7, 2, "7,8")],
        "component long, n_docs long, members string",
    )
    monkeypatch.setattr(dedup, "dup_components", lambda docs: clusters)
    victims = dedup.fuzzy_dedup_victims(None).collect()
    assert sorted(r["doc_id"] for r in victims) == [3, 5, 8]


def test_xlsx_writer_edge_cases(tmp_path):
    """Built-in OOXML writer unit surface: column letters past Z, sheet
    name sanitization/uniquing, every cell type, XML-hostile strings."""
    import xml.etree.ElementTree as ET
    import zipfile

    from text_extractor_for_bioeconomic_products_spark.sources.xlsx import (
        column_letter,
        sanitize_sheet_name,
        write_xlsx,
    )

    assert [column_letter(i) for i in (0, 25, 26, 51, 701, 702)] == [
        "A", "Z", "AA", "AZ", "ZZ", "AAA",
    ]
    taken: set = set()
    assert sanitize_sheet_name("bad[name]/with:chars", taken) == "bad_name__with_chars"
    assert sanitize_sheet_name("x" * 40, taken) == "x" * 31
    assert sanitize_sheet_name("x" * 40, taken) == "x" * 29 + "_1"  # unique

    path = str(tmp_path / "edge.xlsx")
    write_xlsx(path, {
        "t[1]": (
            ["s", "i", "f", "b", "none", "lst", "hostile"],
            [["plain", 7, 2.5, True, None, ["a", 1],
              "a<b&c>\"d\x00\x01é"]],
        ),
    })
    ns = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
    with zipfile.ZipFile(path) as z:
        assert z.testzip() is None
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        assert [s.get("name") for s in wb.iter(f"{ns}sheet")] == ["t_1_"]
        sheet = ET.fromstring(z.read("xl/worksheets/sheet1.xml"))
        rows = sheet.findall(f"{ns}sheetData/{ns}row")
        assert len(rows) == 2
        cells = rows[1].findall(f"{ns}c")
        by_ref = {c.get("r"): c for c in cells}
        assert by_ref["A2"].find(f"{ns}is/{ns}t").text == "plain"
        assert by_ref["B2"].find(f"{ns}v").text == "7"
        assert float(by_ref["C2"].find(f"{ns}v").text) == 2.5
        assert by_ref["D2"].get("t") == "b"
        assert "E2" not in by_ref  # None → cell omitted
        assert by_ref["F2"].find(f"{ns}is/{ns}t").text == "a, 1"
        # control chars stripped, markup escaped (parses back cleanly)
        assert by_ref["G2"].find(f"{ns}is/{ns}t").text == 'a<b&c>"dé'


def test_spark_submit_pyfiles_job(spark, transcripts_df, tmp_path):
    """North-rule submission mechanics, evidenced with the REAL path: the
    extraction job runs under ``spark-submit --py-files engine.zip`` with
    the job script COPIED outside the repo tree, cwd outside the repo,
    and PYTHONPATH stripped — so the package is importable ONLY from the
    zip, for the driver and the forked Python workers alike (the cluster
    analog of session.py's local PYTHONPATH export).  A second submission
    into the same output proves the manifest resume contract survives
    full process death: a fresh driver JVM skips every completed bucket."""
    import json
    import shutil
    import subprocess
    import sys

    from text_extractor_for_bioeconomic_products_spark.sources.transcripts import (
        write_transcripts,
    )

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    input_dir = str(tmp_path / "transcripts")
    write_transcripts(transcripts_df, input_dir)
    n_turns_expected = transcripts_df.count()

    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "package_pyfiles", os.path.join(repo, "jobs", "package_pyfiles.py"))
    pkg_mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(pkg_mod)
    zip_path = pkg_mod.build(str(tmp_path / "engine.zip"))

    job_copy = tmp_path / "jobs_copy"
    job_copy.mkdir()
    shutil.copy(os.path.join(repo, "jobs", "run_extraction.py"),
                job_copy / "run_extraction.py")

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.setdefault("PYSPARK_PYTHON", sys.executable)
    out_dir = str(tmp_path / "warehouse")

    def submit(run_id: str) -> dict:
        cmd = [
            "spark-submit", "--master", "local[4]",
            "--py-files", zip_path,
            str(job_copy / "run_extraction.py"),
            "--input", input_dir, "--output", out_dir,
            "--run-id", run_id, "--buckets", "8", "--master", "local[4]",
        ]
        out = subprocess.run(
            cmd, capture_output=True, text=True, env=env,
            cwd=str(tmp_path), timeout=420,
        )
        assert out.returncode == 0, out.stderr[-4000:]
        return json.loads(out.stdout.strip().splitlines()[-1])

    first = submit("sub1")
    # every bucket is scanned and committed, an empty one included
    assert (first["buckets_processed"], first["buckets_skipped"]) == (8, 0)
    assert first["n_turns"] == n_turns_expected

    second = submit("sub2")
    assert second["buckets_processed"] == 0
    assert second["buckets_skipped"] == first["buckets_processed"]

    got = spark.read.parquet(f"{out_dir}/turns_extracted")
    assert got.count() == n_turns_expected


def test_streaming_merge_upsert_restart_effectively_once(
    spark, transcripts_df, tmp_path
):
    """Stream → foreachBatch keyed MERGE, crash injected AFTER a merge
    commits but BEFORE its streaming offset commit — the replay window.
    On restart the batch re-applies; the keyed upsert makes that a
    no-op.  One more input file redelivers rows another file already
    holds (at-least-once input); its micro-batch converges to one row
    per key as well, so the final table equals the batch pipeline
    exactly and holds no duplicate keys."""
    import shutil

    from text_extractor_for_bioeconomic_products_spark.sources.transcripts import (
        write_transcripts,
    )
    from text_extractor_for_bioeconomic_products_spark.streaming.pipeline import (
        run_streaming_merge_upsert,
    )

    in_dir = str(tmp_path / "in")
    turns_dir = str(tmp_path / "turns_merged")
    ckpt = str(tmp_path / "ckpt")
    # several input files → several micro-batches (maxFilesPerTrigger=1);
    # shuffled=False keeps the explicit 4-way repartition (the default
    # global sort lets AQE coalesce back to one file = one batch)
    write_transcripts(transcripts_df.repartition(4), in_dir, shuffled=False)
    # redelivery: a fifth file repeating rows of the four, one copy per
    # key inside the file (a key twice in one micro-batch is a MERGE
    # error), written last so it streams after the originals
    redelivered = transcripts_df.filter("turn_idx < 3").coalesce(1)
    scratch = tmp_path / "redelivered"
    write_transcripts(redelivered, str(scratch), shuffled=False)
    shutil.move(
        str(next(scratch.glob("part-*.parquet"))),
        os.path.join(in_dir, "redelivered.parquet"),
    )

    total = transcripts_df.count()
    with pytest.raises(Exception) as exc_info:
        run_streaming_merge_upsert(
            spark, in_dir, turns_dir, ckpt, crash_after_batches=2
        )
    assert "InjectedCrash" in str(exc_info.value) or "after batch" in str(
        exc_info.value
    )
    partial = spark.read.parquet(turns_dir).count()
    assert 0 < partial < total, (partial, total)

    # restart with the same checkpoint: replays the uncommitted batch
    # (double-merge) then drains the rest
    stats = run_streaming_merge_upsert(
        spark, in_dir, turns_dir, ckpt, allowed_lateness_sec=60
    )
    assert stats["batches"] >= 1
    # lateness census: round-robin files interleave the whole ts range,
    # so every post-first batch carries rows older than the prior
    # high-water minus 60 s — the telemetry must SEE them (a watermark
    # with that delay would have dropped them; this path drops nothing,
    # as the exact-equality checks below prove)
    assert len(stats["late_by_batch"]) == stats["batches"]
    assert stats["late_by_batch"][0] == 0  # no prior high-water yet
    assert stats["late_rows"] == sum(stats["late_by_batch"])
    if stats["batches"] > 1:
        assert stats["late_rows"] > 0

    got = spark.read.parquet(turns_dir).drop("bucket")
    batch = extract_turns(transcripts_df).drop("spans")
    assert got.count() == total
    assert (
        got.groupBy("conv_id", "turn_idx").count().filter("count > 1").count()
        == 0
    )
    # full content equality, both directions
    cols = [c for c in batch.columns]
    assert got.select(cols).exceptAll(batch.select(cols)).count() == 0
    assert batch.select(cols).exceptAll(got.select(cols)).count() == 0


def test_streaming_merge_upsert_spark_jobs(spark, transcripts_df, tmp_path):
    """One micro-batch upsert into an existing table runs the merge's
    jobs and nothing more: its lateness census (max ``ts`` and late
    rows) comes from ``merge_turns``' one aggregate, and the batch is
    not cached on its own.  Jobs are counted by the DAG scheduler's job
    ids, which also covers jobs on the stream's own thread."""
    from text_extractor_for_bioeconomic_products_spark.plans.pipeline import (
        merge_turns,
    )
    from text_extractor_for_bioeconomic_products_spark.sources.transcripts import (
        write_transcripts,
    )
    from text_extractor_for_bioeconomic_products_spark.streaming.pipeline import (
        run_streaming_merge_upsert,
    )

    in_dir = str(tmp_path / "in")
    turns_dir = str(tmp_path / "turns_merged")
    write_transcripts(transcripts_df.coalesce(1), in_dir, shuffled=False)
    merge_turns(spark, turns_dir, extract_turns(transcripts_df).drop("spans"),
                n_buckets=8)
    n_rows = transcripts_df.count()
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    before = scheduler.nextJobId()
    stats = run_streaming_merge_upsert(
        spark, in_dir, turns_dir, str(tmp_path / "ckpt"), n_buckets=8
    )
    n_jobs = scheduler.nextJobId() - before
    assert (stats["batches"], stats["rows"]) == (1, n_rows)
    assert n_jobs <= 9, n_jobs


def test_streaming_near_dup_admission(spark, tmp_path):
    """NEAR-dup admission: within one micro-batch a near cluster (exact
    copy + one-word variant) collapses to its (conv_id, turn_idx)-min;
    across batches a later variant is rejected against the standing band
    index, and so is a later text equal to a standing one after
    ``lower`` (a case-only variant); crash-replay admits nothing twice.
    Fixture texts are chosen
    so the planted variants share LSH bands deterministically (md5 is
    fixed) and the premise is asserted before the semantics."""
    import datetime

    from pyspark.sql import functions as F
    from text_extractor_for_bioeconomic_products_spark.operators.dedup import (
        minhash_signatures,
    )
    from text_extractor_for_bioeconomic_products_spark.streaming.pipeline import (
        run_streaming_near_dup_admission,
    )

    A = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    A_near = A + " lambda"     # same-batch near variant of A
    A2 = A + " sigma"          # later-batch near variant of A
    A_case = A.upper()         # later-batch case-only variant of A
    C = "one two three four five six seven eight nine ten"
    D = "red orange yellow green blue indigo violet pink brown black"
    ts = datetime.datetime(2026, 1, 1)

    def tdf(rows):
        return spark.createDataFrame(
            [(c, i, "user", t, None, ts) for c, i, t in rows],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        )

    # premise: the variants collide on >=1 band; the unique docs don't
    def band_set(text):
        one = tdf([("x", 0, text)])
        sig = minhash_signatures(one, id_col="conv_id").collect()[0]
        return {
            f"{b}:{sig[f'sig_{2 * b}'][:8]}|{sig[f'sig_{2 * b + 1}'][:8]}"
            for b in range(2)
        }

    assert band_set(A) & band_set(A_near)
    assert band_set(A) & band_set(A2)
    assert band_set(A_case) == band_set(A)
    assert not (band_set(A) & band_set(C))
    assert not (band_set(C) & band_set(D))

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    admitted = str(tmp_path / "corpus_near")
    ckpt = str(tmp_path / "ckpt")

    # file-per-batch (maxFilesPerTrigger=1): each mini-DF becomes one
    # part file placed directly in the stream dir
    def add_batch(name, rows):
        import shutil

        scratch = tmp_path / f"scratch_{name}"
        tdf(rows).coalesce(1).write.parquet(str(scratch))
        part = next(scratch.glob("part-*.parquet"))
        dest = in_dir / f"{name}.parquet"
        shutil.move(str(part), str(dest))
        # the file source streams oldest-first: pin the batch order
        t = 1_700_000_000 + len(list(in_dir.glob("*.parquet")))
        os.utime(dest, (t, t))

    # batch 1 carries the within-batch cluster {A, A_exact, A_near} +
    # unique C; batch 2 the cross-batch variant A2 + unique D; batch 3
    # the case-only variant of the standing A
    add_batch("b1", [("c1", 0, A), ("c1", 1, A), ("c2", 0, A_near), ("c3", 0, C)])
    add_batch("b2", [("c4", 0, A2), ("c5", 0, D)])
    add_batch("b3", [("c6", 0, A_case)])

    with pytest.raises(Exception) as exc_info:
        run_streaming_near_dup_admission(
            spark, str(in_dir), admitted, ckpt, crash_after_batches=1
        )
    assert "InjectedCrash" in str(exc_info.value) or "after batch" in str(
        exc_info.value
    )
    # restart: the crashed batch replays (append committed, offset not)
    stats = run_streaming_near_dup_admission(spark, str(in_dir), admitted, ckpt)
    assert stats["batches"] >= 1
    # the last batch holds only A_case: rejected against standing bands
    assert stats["admitted_by_batch"][-1] == 0

    got = spark.read.parquet(admitted)
    texts = {r["text"] for r in got.collect()}
    # exactly one member of the A-family survives, plus the two uniques
    assert len(texts & {A, A_near, A2, A_case}) == 1
    assert A_case not in texts
    assert C in texts and D in texts
    assert got.count() == 3
    # within the batch that held the cluster, the survivor is the
    # (conv_id, turn_idx) minimum of ITS batch's members
    if A in texts or A_near in texts:
        surv = got.filter(F.col("text").isin([A, A_near])).collect()[0]
        assert (surv["conv_id"], surv["turn_idx"]) == ("c1", 0)
    # admitted rows carry their bands (the standing index column)
    assert "bands" in got.columns
    assert got.filter(F.size("bands") != 2).count() == 0


def test_run_curation_end_to_end(spark, sf001_dir, tmp_path):
    """The composed job: every input row is accounted to exactly one
    fate (quality-dropped, dedup-dropped, or written to one split), the
    written splits are disjoint and deterministic, and re-running
    yields the identical assignment."""
    import glob
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from run_curation import run_curation

    out = str(tmp_path / "curated")
    lineage = run_curation(spark, sf001_dir, out)
    assert lineage["n_in"] > 0
    assert (
        lineage["dropped_quality"] + lineage["dropped_dedup"]
        + lineage["n_written"] == lineage["n_in"]
    )
    ids = {}
    for split in ("train", "val", "test"):
        files = glob.glob(os.path.join(out, split, "*.parquet"))
        assert files, split
        ids[split] = {
            r["doc_id"]
            for r in spark.read.parquet(os.path.join(out, split)).collect()
        }
        assert len(ids[split]) == lineage["splits"][split]["n_rows"]
    assert not (ids["train"] & ids["val"]) and not (ids["train"] & ids["test"])
    # determinism: a second run lands every doc in the same split
    out2 = str(tmp_path / "curated2")
    lineage2 = run_curation(spark, sf001_dir, out2)
    assert lineage2["splits"]["train"]["n_rows"] == lineage["splits"]["train"]["n_rows"]
    ids2_val = {
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(out2, "val")).collect()
    }
    assert ids2_val == ids["val"]


def test_run_curation_dedups_after_quality_floor(spark, tmp_path):
    """Fuzzy dedup runs over the docs that pass the quality floor.  Doc 2
    is doc 1 plus one word: doc 1 has 19 words, under MIN_WORDS, and doc
    2 has 20.  Deduping the whole corpus first made doc 2 the victim of
    doc 1, which the floor then dropped, so the group lost both."""
    import sys

    import pandas as pd

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from run_curation import MIN_WORDS, run_curation

    d1 = ("farmers in the amazon basin harvest acai berries and brazil nuts "
          "which cooperatives dry sort and ship to buyers")
    d3 = ("a small workshop near the coast builds wooden boats from local "
          "timber while apprentices learn rigging sail repair knot tying and "
          "navigation by the stars")
    assert len(d1.split(" ")) == MIN_WORDS - 1 and len(d3.split(" ")) == 25
    sf = tmp_path / "sf"
    sf.mkdir()
    pd.DataFrame({
        "doc_id": [1, 2, 3], "text": [d1, d1 + " ember", d3],
    }).to_parquet(str(sf / "documents.parquet"))
    out = str(tmp_path / "curated")
    lineage = run_curation(spark, str(sf), out)
    written = spark.read.parquet(
        *[os.path.join(out, split) for split in ("train", "val", "test")]
    )
    assert sorted(r["doc_id"] for r in written.collect()) == [2, 3]
    assert (lineage["dropped_quality"], lineage["dropped_dedup"]) == (1, 0)


def test_png_roundtrip_property():
    """Hypothesis battery: PNG encode→decode is EXACT for arbitrary
    pixel content and dimensions (the lossless contract), including the
    1-pixel-wide/tall degenerate shapes where the left-neighbor filters
    have no left neighbor."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from text_extractor_for_bioeconomic_products_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=24),
        h=st.integers(min_value=1, max_value=24),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
    )
    def roundtrip(w, h, seed):
        rng = np.random.default_rng(seed)
        pixels = rng.integers(0, 256, w * h * 3, dtype=np.uint8).tobytes()
        rw, rh, _mean, arr = decode_png(encode_png(w, h, pixels))
        assert (rw, rh) == (w, h)
        assert arr.tobytes() == pixels

    roundtrip()


def test_jpeg_roundtrip_property():
    """Hypothesis battery for the lossy codec's INVARIANTS: arbitrary
    dims/content always decode to the exact dimensions, pixel values in
    range, and byte-deterministic encoding; smooth (solid) content stays
    within the DC error bound."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from text_extractor_for_bioeconomic_products_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    @settings(max_examples=25, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=20),
        h=st.integers(min_value=1, max_value=20),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
        solid=st.booleans(),
    )
    def roundtrip(w, h, seed, solid):
        rng = np.random.default_rng(seed)
        if solid:
            color = rng.integers(0, 256, 3, dtype=np.uint8)
            px = np.tile(color, (h, w, 1))
        else:
            px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        payload = encode_jpeg(w, h, px.tobytes())
        assert payload == encode_jpeg(w, h, px.tobytes())
        rw, rh, mean, arr = decode_jpeg(payload)
        assert (rw, rh) == (w, h)
        assert arr.dtype == np.uint8 and arr.shape == (h, w, 3)
        assert 0.0 <= mean <= 255.0
        if solid:
            assert np.abs(arr.astype(int) - px.astype(int)).max() <= 4

    roundtrip()


def test_jpeg_rejects_non_ycbcr():
    """Grayscale (1-component) baseline JPEG must refuse loudly — the
    YCbCr math would otherwise silently decode it green-tinted."""
    import struct as _struct

    import pytest as _pytest

    from text_extractor_for_bioeconomic_products_spark.operators.multimodal import (
        decode_jpeg,
    )

    sof_body = _struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0])
    sof = _struct.pack(">HH", 0xFFC0, len(sof_body) + 2) + sof_body
    gray = b"\xff\xd8" + sof + b"\xff\xd9"
    with _pytest.raises(NotImplementedError, match="3-component"):
        decode_jpeg(gray)

