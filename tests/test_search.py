"""Span search/filter operators (F2-F5, O1) + S1 format dispatch."""

from __future__ import annotations

import pytest

from text_extractor_for_bioeconomic_products_spark.operators.extract import (
    explode_spans,
    extract_turns,
)
from text_extractor_for_bioeconomic_products_spark.operators.search import (
    filter_by_category,
    filter_by_confidence,
    filter_by_country,
    search_spans,
)


@pytest.fixture(scope="module")
def spans(transcripts_df):
    df = explode_spans(extract_turns(transcripts_df))
    df.cache()
    df.count()
    return df


def test_filter_by_confidence(spans):
    hi = filter_by_confidence(spans, 0.9)
    assert hi.count() > 0
    assert hi.filter("confianca < 0.9").count() == 0


def test_filter_by_country_case_insensitive(spans):
    got = filter_by_country(spans, ["BRAZIL"])
    assert got.count() > 0
    rows = got.limit(50).collect()
    assert all(any(p.lower() == "brazil" for p in r["paises"]) for r in rows)


def test_filter_by_category_exists(spans):
    med = filter_by_category(spans, "medicinal")
    assert med.count() > 0
    assert all("medicinal" in r["tipos_uso"] for r in med.limit(50).collect())


def test_search_spans_composed(spans):
    got = search_spans(
        spans, name_like="maca", country="Peru", min_confidence=0.5, limit=10
    ).collect()
    assert 0 < len(got) <= 10
    assert all("maca" in r["nome_canonico"] for r in got)
    # ordered by confidence desc
    confs = [r["confianca"] for r in got]
    assert confs == sorted(confs, reverse=True)


def test_search_spans_no_filters_topk(spans):
    got = search_spans(spans, limit=5).collect()
    assert len(got) == 5


def test_format_dispatch_roundtrip(spark, transcripts_df, tmp_path):
    """S1: json and csv transcript scans produce the same rows as parquet."""
    from pyspark.sql import functions as F

    from text_extractor_for_bioeconomic_products_spark.sources.transcripts import (
        read_transcripts,
    )

    sample = transcripts_df.limit(200).cache()
    n = sample.count()
    pq, js = str(tmp_path / "pq"), str(tmp_path / "js")
    sample.write.parquet(pq)
    sample.write.json(js)
    assert read_transcripts(spark, pq, "parquet").count() == n
    back = read_transcripts(spark, js, "json")
    assert back.count() == n
    # value fidelity on the key + text columns
    a = sample.select(F.sum(F.xxhash64("conv_id", "turn_idx", "text").cast("decimal(38,0)"))).collect()
    b = back.select(F.sum(F.xxhash64("conv_id", "turn_idx", "text").cast("decimal(38,0)"))).collect()
    assert a == b
    with pytest.raises(ValueError, match="unsupported"):
        read_transcripts(spark, pq, "xml")


def test_avro_ocf_roundtrip_and_dispatch(spark, transcripts_df, tmp_path):
    """Pure-stdlib Avro OCF source/sink: distributed write (one file
    per Arrow batch, content-hash names) then distributed read returns
    EXACTLY the input rows and schema — including timestamps and
    nullable nulls — and the S1 dispatch routes fmt='avro'."""
    from pyspark.sql import functions as F

    from text_extractor_for_bioeconomic_products_spark.sources.avro import (
        read_avro,
        write_avro_distributed,
    )
    from text_extractor_for_bioeconomic_products_spark.sources.transcripts import (
        read_transcripts,
    )

    sample = transcripts_df.limit(300).cache()
    n = sample.count()
    adir = str(tmp_path / "avro")
    manifest = write_avro_distributed(sample.repartition(3), adir)
    mrows = manifest.collect()
    assert sum(r["n_rows"] for r in mrows) == n
    assert all(r["file"].endswith(".avro") for r in mrows)

    back = read_avro(spark, adir)
    assert back.schema == sample.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, sample.collect()))

    # S1 dispatch routes avro; foreign-schema avro dirs are refused
    assert read_transcripts(spark, adir, "avro").count() == n
    foreign = str(tmp_path / "foreign_avro")
    write_avro_distributed(
        spark.range(5).selectExpr("id AS k", "CAST(id AS STRING) AS v"),
        foreign,
    )
    with pytest.raises(ValueError, match="not a transcripts table"):
        read_transcripts(spark, foreign, "avro")

    # idempotent rerun: content-hash names → same file set, no dupes
    files_before = sorted(__import__("os").listdir(adir))
    write_avro_distributed(sample.repartition(3), adir)
    assert sorted(__import__("os").listdir(adir)) == files_before

    # null handling survives: inject NULL text/tool rows and roundtrip
    nulled = sample.withColumn(
        "text", F.when(F.col("turn_idx") % 5 == 0, None).otherwise(F.col("text"))
    )
    ndir = str(tmp_path / "nulled")
    write_avro_distributed(nulled, ndir)
    got = read_avro(spark, ndir)
    assert got.filter("text IS NULL").count() == nulled.filter("text IS NULL").count()
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, nulled.collect()))


def test_avro_bad_file_quarantine_and_audit(spark, transcripts_df, tmp_path):
    """Per-file error tolerance (the S5 discipline applied to the OCF
    scan): a torn file fails the strict default, bad_files='skip'
    keeps the scan alive with exactly the intact files' rows, and
    audit_avro names the quarantined file with its error — skipping
    without the audit trail would be silent data loss."""
    import os

    from text_extractor_for_bioeconomic_products_spark.sources.avro import (
        audit_avro,
        read_avro,
        write_avro_distributed,
    )

    sample = transcripts_df.limit(200).cache()
    n = sample.count()
    adir = str(tmp_path / "avro")
    write_avro_distributed(sample.repartition(2), adir)
    files = sorted(f for f in os.listdir(adir) if f.endswith(".avro"))
    assert len(files) >= 2
    # tear the first file mid-block
    victim = os.path.join(adir, files[0])
    blob = open(victim, "rb").read()
    open(victim, "wb").write(blob[: len(blob) // 2])

    with pytest.raises(Exception):
        read_avro(spark, adir).count()

    audit = {r["file"]: r for r in audit_avro(spark, adir).collect()}
    assert not audit[files[0]]["ok"]
    assert audit[files[0]]["error"] and "Avro" in audit[files[0]]["error"]
    assert all(audit[f]["ok"] for f in files[1:])
    survivors = sum(audit[f]["n_rows"] for f in files[1:])
    assert survivors < n

    got = read_avro(spark, adir, bad_files="skip")
    assert got.count() == survivors

    with pytest.raises(ValueError, match="bad_files"):
        read_avro(spark, adir, bad_files="maybe")


def test_avro_nested_extraction_output_roundtrip(spark, transcripts_df, tmp_path):
    """The recursive codec closes the OUTPUT side: the extraction
    result — spans array<struct<..., array<string>>> — persists to
    Avro and reads back EXACTLY (schema and every nested value), so a
    pipeline can hand its extracted spans to Kafka-ecosystem consumers
    without a lossy flattening step."""
    from text_extractor_for_bioeconomic_products_spark.operators.extract import (
        extract_turns,
    )
    from text_extractor_for_bioeconomic_products_spark.sources.avro import (
        read_avro,
        write_avro_distributed,
    )

    out = extract_turns(transcripts_df.limit(400)).cache()
    n = out.count()
    adir = str(tmp_path / "x")
    write_avro_distributed(out.repartition(3), adir)
    back = read_avro(spark, adir)
    assert back.schema == out.schema
    assert sorted(map(str, back.collect())) == sorted(map(str, out.collect()))
    assert (back.agg({"n_spans": "sum"}).collect()
            == out.agg({"n_spans": "sum"}).collect())
    assert n == back.count()


def test_avro_ocf_bytes_level_contracts():
    """The OCF walk is real: deflate and null codecs roundtrip
    byte-deterministically; sync-marker corruption, block-count lies,
    truncation, unknown codecs, and non-flat schemas all refuse."""
    import pytest as _pytest

    from text_extractor_for_bioeconomic_products_spark.sources.avro import (
        read_avro_bytes,
        read_avro_header,
        write_avro_bytes,
    )

    schema = {
        "type": "record", "name": "row", "fields": [
            {"name": "k", "type": "long"},
            {"name": "s", "type": ["null", "string"]},
            {"name": "d", "type": "double"},
            {"name": "b", "type": "boolean"},
            {"name": "y", "type": "bytes"},
        ],
    }
    recs = [
        (i, None if i % 3 == 0 else f"s{i}é", i * 0.5, i % 2 == 0,
         bytes([i % 256, 255 - i % 256]))
        for i in range(500)
    ]
    for codec in ("null", "deflate"):
        p = write_avro_bytes(recs, schema, codec=codec)
        assert p == write_avro_bytes(recs, schema, codec=codec)
        got_schema, got = read_avro_bytes(p)
        assert got == recs and got_schema == schema

    p = write_avro_bytes(recs, schema, codec="deflate")
    _schema, codec, sync, first = read_avro_header(p)
    assert codec == "deflate"
    # corrupt the trailing sync marker of the last block
    corrupted = p[:-16] + bytes(16)
    with _pytest.raises(ValueError, match="sync"):
        read_avro_bytes(corrupted)
    # truncation mid-block
    with _pytest.raises(ValueError):
        read_avro_bytes(p[: len(p) - 20])
    # bad magic
    with _pytest.raises(ValueError, match="magic"):
        read_avro_bytes(b"Nope" + p[4:])
    # unknown codec refuses rather than guessing
    with _pytest.raises(NotImplementedError):
        write_avro_bytes(recs, schema, codec="snappy")
    # maps stay out of scope — error, never silent coercion
    from text_extractor_for_bioeconomic_products_spark.sources.avro import (
        spark_schema_of,
    )
    with _pytest.raises(NotImplementedError):
        spark_schema_of({
            "type": "record", "name": "r", "fields": [
                {"name": "a", "type": {"type": "map", "values": "long"}},
            ],
        })


def test_avro_varint_property():
    """Hypothesis battery: zigzag-varint encode→decode is identity over
    the full signed-64 range, and record roundtrip holds for arbitrary
    content including empty strings/bytes and extreme longs."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from text_extractor_for_bioeconomic_products_spark.sources.avro import (
        _dec_long,
        _enc_long,
        read_avro_bytes,
        write_avro_bytes,
    )

    @settings(max_examples=200, deadline=None)
    @given(st.integers(min_value=-(2 ** 63), max_value=2 ** 63 - 1))
    def varint_identity(n):
        v, pos = _dec_long(memoryview(_enc_long(n)), 0)
        assert v == n and pos == len(_enc_long(n))

    varint_identity()

    schema = {
        "type": "record", "name": "row", "fields": [
            {"name": "n", "type": "long"},
            {"name": "s", "type": ["null", "string"]},
            {"name": "y", "type": "bytes"},
        ],
    }

    @settings(max_examples=30, deadline=None)
    @given(st.lists(
        st.tuples(
            st.integers(min_value=-(2 ** 63), max_value=2 ** 63 - 1),
            st.one_of(st.none(), st.text(max_size=40)),
            st.binary(max_size=40),
        ),
        max_size=30,
    ))
    def record_roundtrip(recs):
        _s, got = read_avro_bytes(write_avro_bytes(recs, schema))
        assert got == recs

    record_roundtrip()


def test_read_transcripts_rejects_foreign_parquet(spark, tmp_path):
    """S1 guard: a parquet dir with NONE of the transcript columns must
    error instead of reading as all-NULL phantom rows (the explicit
    read schema would otherwise silently null-fill every column — the
    round-5 README audit flowed 9,890 such rows through the whole
    extraction job before this guard)."""
    from text_extractor_for_bioeconomic_products_spark.sources.transcripts import (
        read_transcripts,
    )

    foreign = str(tmp_path / "foreign")
    spark.range(10).selectExpr(
        "id AS some_key", "CAST(id AS STRING) AS some_value"
    ).write.parquet(foreign)
    with pytest.raises(ValueError, match="not a transcripts table"):
        read_transcripts(spark, foreign, "parquet")
    # a table carrying the key columns still reads (extra cols ignored,
    # missing optional cols null-filled — per-row quarantine's job)
    partial = str(tmp_path / "partial")
    spark.range(10).selectExpr(
        "CAST(id AS STRING) AS conv_id",
        "CAST(id AS STRING) AS text",
        "id AS extra_col",
    ).write.parquet(partial)
    assert read_transcripts(spark, partial, "parquet").count() == 10


def test_connected_components_long_chain(spark):
    """A 60-node chain (diameter 59) must converge within the iteration
    cap — pointer jumping gives O(log d) rounds — and collapse to one
    component labeled by the minimum node."""
    from text_extractor_for_bioeconomic_products_spark.operators.dedup import (
        connected_components,
    )
    edges = [(i, i + 1) for i in range(59)] + [(100, 101), (103, 101)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    rows = {r["component"]: r for r in connected_components(pairs).collect()}
    assert set(rows) == {0, 100}
    assert rows[0]["n_docs"] == 60
    assert rows[0]["members"] == ",".join(str(i) for i in range(60))
    assert rows[100]["n_docs"] == 3
    assert rows[100]["members"] == "100,101,103"


def test_bench_pair_efficiency():
    """bench.py's one scaling estimator, min-of-level: interference only
    adds time, so each level's fastest run is its cleanest estimate."""
    import bench

    def runs(secs):
        return [{"extract_sec": s} for s in secs]

    # a slow window inflates only lo's first round: min(lo)=136, min(hi)=40
    assert bench.pair_efficiency(runs([180.0, 136.0]), runs([40.0, 40.0]), 4, 16) == 0.85
    # a slow hi run does not lower the result
    assert bench.pair_efficiency(runs([180.0, 136.0]), runs([40.0, 90.0]), 4, 16) == 0.85


def test_train_val_test_split_stable_and_proportioned(spark, sf001_dir, tmp_path):
    """run_curation's split is a pure function of doc_id: every doc lands
    in the same split after the input is repartitioned on disk (the
    no-leakage-over-time property), all three splits occur, and the
    shares land near 80/10/10."""
    import os
    import sys
    from collections import Counter

    from text_extractor_for_bioeconomic_products_spark.sources.tables import load

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from run_curation import split_assignment

    def assign(sf_dir):
        docs = load(spark, sf_dir, "documents")
        return {
            r["doc_id"]: r["split"]
            for r in docs.select("doc_id", split_assignment().alias("split")).collect()
        }

    base = assign(sf001_dir)
    # ACTUALLY reshuffle the source on disk and assign again from the new
    # layout (an in-memory repartition of the same scan would make this
    # check vacuous)
    alt = str(tmp_path / "alt_sf")
    load(spark, sf001_dir, "documents").repartition(7, "lang").write.parquet(
        alt + "/documents.parquet"
    )
    assert assign(alt) == base
    totals = Counter(base.values())
    assert set(totals) == {"train", "val", "test"}
    n = sum(totals.values())
    assert 0.7 < totals["train"] / n < 0.9
    assert totals["val"] / n < 0.2 and totals["test"] / n < 0.2


def test_orc_dispatch_and_text_corpus_ingest(spark, transcripts_df, tmp_path):
    """S1 widened: ORC roundtrips through the dispatch with value
    fidelity, and whole-file text ingest yields one row per file with
    the exact bytes (the reference's file-per-document shape)."""
    from pyspark.sql import functions as F

    from text_extractor_for_bioeconomic_products_spark.sources.transcripts import (
        read_text_corpus,
        read_transcripts,
    )

    sample = transcripts_df.limit(150).cache()
    n = sample.count()
    orc = str(tmp_path / "orc")
    sample.write.orc(orc)
    back = read_transcripts(spark, orc, "orc")
    assert back.count() == n
    a = sample.select(
        F.sum(F.xxhash64("conv_id", "turn_idx", "text").cast("decimal(38,0)"))
    ).collect()
    b = back.select(
        F.sum(F.xxhash64("conv_id", "turn_idx", "text").cast("decimal(38,0)"))
    ).collect()
    assert a == b

    txt_dir = tmp_path / "txt"
    txt_dir.mkdir()
    contents = {
        "a.txt": "first document\nwith two lines",
        "b.txt": "second document — unicode café ñ",
    }
    for name, text in contents.items():
        (txt_dir / name).write_text(text, encoding="utf-8")
    docs = {r["file_name"]: r for r in read_text_corpus(spark, str(txt_dir)).collect()}
    assert set(docs) == set(contents)
    for name, text in contents.items():
        assert docs[name]["text"] == text
        assert docs[name]["doc_id"] is not None
    assert len({r["doc_id"] for r in docs.values()}) == 2

    # repeated basenames across subdirectories (recursive ingest) must
    # get DISTINCT doc_ids — the id hashes the full path, not the
    # basename (r3 ADVICE: a basename hash silently merged documents)
    for sub in ("2023", "2024"):
        (txt_dir / sub).mkdir()
        (txt_dir / sub / "report.txt").write_text(
            f"annual report {sub}", encoding="utf-8"
        )
    rows = read_text_corpus(spark, str(txt_dir)).collect()
    assert len(rows) == 4  # recursive lookup found the nested files
    reports = [r for r in rows if r["file_name"] == "report.txt"]
    assert len(reports) == 2
    assert reports[0]["doc_id"] != reports[1]["doc_id"]
    assert len({r["doc_id"] for r in rows}) == 4

    # location independence (r4 ADVICE): the SAME corpus ingested from a
    # different root (relocated/remounted) must yield identical doc_ids —
    # the id hashes the root-RELATIVE path, not the full URI
    import shutil as _shutil

    moved = tmp_path / "mounted_elsewhere" / "txt"
    moved.parent.mkdir()
    _shutil.copytree(str(txt_dir), str(moved))
    ids_orig = {
        (r["file_name"], r["doc_id"])
        for r in rows
    }
    rel_ids = lambda rs: {(r["file_name"], r["doc_id"]) for r in rs}  # noqa: E731
    assert rel_ids(read_text_corpus(spark, str(moved)).collect()) == ids_orig


def test_compression_signal_byte_exact_and_ordered(spark):
    """The zlib signal must be byte-exact vs the same CPython zlib on
    every doc, score a repeated-phrase doc far below prose, and treat
    null/empty text as vacuously incompressible (ratio 1.0)."""
    import zlib

    from text_extractor_for_bioeconomic_products_spark.operators.textstats import (
        doc_compression_signal,
    )

    prose = (
        "Quinoa cultivation in the Andean highlands supports thousands "
        "of smallholder farms with distinct rotations and varieties."
    )
    spam = "buy now " * 40
    docs = spark.createDataFrame(
        [(1, prose), (2, spam), (3, None), (4, "")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in doc_compression_signal(docs).collect()}
    for doc_id, text in [(1, prose), (2, spam)]:
        raw = text.encode("utf-8")
        assert rows[doc_id]["n_bytes"] == len(raw)
        assert rows[doc_id]["n_compressed"] == len(zlib.compress(raw, 6))
        assert rows[doc_id]["compress_ratio"] == round(
            len(zlib.compress(raw, 6)) / len(raw), 4
        )
    assert rows[2]["compress_ratio"] < 0.2 < rows[1]["compress_ratio"]
    for doc_id in (3, 4):
        assert rows[doc_id]["n_bytes"] == 0
        assert rows[doc_id]["compress_ratio"] == 1.0


def test_doc_compress_ratio_query_contract(spark, sf001_dir):
    """Driver-query shape: one row per source, ratios in (0, 1] after
    rounding, totals consistent, repetitive count bounded by n_docs."""
    import __spark_entry__ as entry_mod

    rows = entry_mod.queries()["doc_compress_ratio"](spark, sf001_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r["mean_ratio"] <= 1.0
        assert 0 <= r["n_repetitive"] <= r["n_docs"]
        assert r["total_compressed"] <= max(r["total_bytes"], 1)


def test_table_profile_planted_exact(spark):
    """One-pass profile on a planted frame: null counts, distinct
    cardinalities, numeric ranges, string mean lengths — all exact."""
    from text_extractor_for_bioeconomic_products_spark.operators.profiling import (
        profile_table,
    )

    df = spark.createDataFrame(
        [
            (1, 10.5, "aa", None),
            (2, None, "bbbb", None),
            (2, -3.0, None, None),
            (None, 7.25, "cc", None),
        ],
        "k long, x double, s string, ts timestamp",
    )
    rows = {r["column"]: r for r in
            profile_table(df, ["k", "x"], ["s"], ["ts"]).collect()}
    assert rows["k"]["n_rows"] == 4 and rows["k"]["n_nulls"] == 1
    assert rows["k"]["n_distinct"] == 2
    assert rows["k"]["min_num"] == 1.0 and rows["k"]["max_num"] == 2.0
    assert rows["x"]["n_nulls"] == 1 and rows["x"]["n_distinct"] == 3
    assert rows["x"]["min_num"] == -3.0 and rows["x"]["max_num"] == 10.5
    assert rows["s"]["n_nulls"] == 1 and rows["s"]["n_distinct"] == 3
    assert rows["s"]["avg_len"] == round((2 + 4 + 2) / 3, 4)
    assert rows["s"]["min_num"] is None and rows["s"]["max_num"] is None
    assert rows["ts"]["n_nulls"] == 4 and rows["ts"]["n_distinct"] == 0


def test_table_profile_single_scan_plan(spark, sf001_dir):
    """The profile must plan exactly ONE scan of the table (the whole
    point vs per-column scans): a single FileScan over orders feeding
    one Expand for the distinct aggregates."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["table_profile"](spark, sf001_dir)
    df.collect()
    # AQE prints Final + Initial sections; count scans in the final only
    p = df._jdf.queryExecution().executedPlan().toString()
    final = p.split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") == 1, final
    assert "Expand" in final
