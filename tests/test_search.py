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


def test_source_mix_weights_normalized(spark, sf001_dir):
    """Temperature mix: weights sum to 1, expected counts sum to N, and
    the temperature tempers dominance (max source's weight share < its
    raw doc share; min's weight share > raw share)."""
    from text_extractor_for_bioeconomic_products_spark.operators.curation import (
        q_source_mix_weights,
    )
    rows = q_source_mix_weights(spark, sf001_dir).collect()
    total_docs = sum(r["n_docs"] for r in rows)
    assert abs(sum(r["mix_weight"] for r in rows) - 1.0) < 1e-4
    assert abs(sum(r["expected_docs"] for r in rows) - total_docs) < 1e-2
    if len(rows) > 1 and len({r["n_docs"] for r in rows}) > 1:
        hi = max(rows, key=lambda r: r["n_docs"])
        lo = min(rows, key=lambda r: r["n_docs"])
        assert hi["mix_weight"] < hi["n_docs"] / total_docs
        assert lo["mix_weight"] > lo["n_docs"] / total_docs


def test_train_val_test_split_stable_and_proportioned(spark, sf001_dir, tmp_path):
    """The split is a pure function of doc_id: identical under different
    input partitionings (the no-leakage-over-time property), covers all
    three splits, and lands near 80/10/10."""
    import __spark_entry__ as entry_mod
    from text_extractor_for_bioeconomic_products_spark.sources.tables import load

    q = entry_mod.queries()["train_val_test_split"]
    base = q(spark, sf001_dir).collect()
    # ACTUALLY reshuffle the source on disk and recompute from the new
    # layout — byte-identical census.  (An in-memory repartition the
    # query never reads would make this check vacuous: the query loads
    # from sf_dir, so the differently-partitioned copy must BE an sf dir.)
    alt = str(tmp_path / "alt_sf")
    load(spark, sf001_dir, "documents").repartition(7, "lang").write.parquet(
        alt + "/documents.parquet"
    )
    again = q(spark, alt).collect()
    assert base == again
    totals = {}
    for r in base:
        totals[r["split"]] = totals.get(r["split"], 0) + r["n_docs"]
    assert set(totals) == {"train", "val", "test"}
    n = sum(totals.values())
    assert 0.7 < totals["train"] / n < 0.9
    assert totals["val"] / n < 0.2 and totals["test"] / n < 0.2


def test_quality_weighted_sample_deterministic_extremes(spark, tmp_path):
    """p = min(1, words/100): a 100+-word doc is ALWAYS kept (u < 1 by
    construction), a word-less doc NEVER is — and the census is
    byte-identical under a different input partitioning (no rand() in
    the coin; a reshuffled rerun must select the same corpus)."""
    import __spark_entry__ as entry_mod
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [
            (i, "w " * 120 if i % 3 == 0 else ("###" if i % 3 == 1 else "short doc here"), f"s{i % 2}")
            for i in range(60)
        ],
        "doc_id long, text string, source string",
    ).withColumn("lang", F.lit("en")).withColumn("n_chars", F.length("text"))
    p1 = str(tmp_path / "p1")
    docs.repartition(1).write.parquet(str(tmp_path / "p1" / "documents.parquet"))
    p8 = str(tmp_path / "p8")
    docs.repartition(8, "source").write.parquet(str(tmp_path / "p8" / "documents.parquet"))
    q = entry_mod.queries()["quality_weighted_sample"]
    a = sorted(map(tuple, q(spark, p1).collect()))
    b = sorted(map(tuple, q(spark, p8).collect()))
    assert a == b

    from text_extractor_for_bioeconomic_products_spark.operators.curation import (
        q_quality_weighted_sample,
    )
    # extremes via the census: sources hold mixed docs, so check via a
    # dedicated frame — all-long docs => kept_frac 1.0; all-empty => 0.0
    long_docs = docs.filter(F.col("doc_id") % 3 == 0)
    empty_docs = docs.filter(F.col("doc_id") % 3 == 1)
    pl = str(tmp_path / "long"); pe = str(tmp_path / "empty")
    long_docs.write.parquet(pl + "/documents.parquet")
    empty_docs.write.parquet(pe + "/documents.parquet")
    for r in q_quality_weighted_sample(spark, pl).collect():
        assert r["kept_frac"] == 1.0 and r["mean_keep_prob"] == 1.0
    for r in q_quality_weighted_sample(spark, pe).collect():
        assert r["kept_frac"] == 0.0 and r["n_kept"] == 0


def test_dsir_importance_prefers_target_like_docs(spark, tmp_path):
    """DSIR semantics: a raw-pool document written in the target slice's
    vocabulary must out-score one written in the raw pool's own
    vocabulary (that is the whole point of the importance weight), and
    the selected set must be byte-identical under a different input
    partitioning (Gumbel coin is a pure function of doc_id)."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entry_mod

    rows = []
    for i in range(15):  # target slice: 'alpha beta' profile
        rows.append((i, "alpha beta alpha beta alpha", "en", "tgt"))
    for i in range(15, 30):  # raw-only slice: 'omega gamma' profile
        rows.append((i, "omega gamma omega gamma omega", "fr", "raw"))
    rows.append((100, "alpha beta alpha beta alpha", "fr", "probe"))  # target-like
    rows.append((101, "omega gamma omega gamma omega", "fr", "probe"))  # raw-like
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).withColumn("n_chars", F.length("text"))
    p1 = str(tmp_path / "p1")
    docs.repartition(1).write.parquet(p1 + "/documents.parquet")
    p8 = str(tmp_path / "p8")
    docs.repartition(8, "source").write.parquet(p8 + "/documents.parquet")

    q = entry_mod.queries()["dsir_importance"]
    a = sorted(map(tuple, q(spark, p1).collect()))
    b = sorted(map(tuple, q(spark, p8).collect()))
    assert a == b  # partitioning-independent selection

    by_id = {r["doc_id"]: r for r in q(spark, p1).collect()}
    # 32 docs < top-40 cap, so both probes are present
    assert by_id[100]["logw"] > by_id[101]["logw"]
    # and the target-like probe scores like the target slice itself
    assert by_id[100]["logw"] > 0 > by_id[101]["logw"]


def test_weighted_sample_favors_heavy_docs(spark, sf001_dir):
    """Efraimidis-Spirakis property on the deterministic corpus: the
    selected docs' mean weight exceeds the corpus mean, and the sample
    is a pure function of doc_id (identical under repartition)."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entry_mod
    from text_extractor_for_bioeconomic_products_spark.sources.tables import load

    got = entry_mod.queries()["weighted_sample_topk"](spark, sf001_dir).collect()
    sel_mean = sum(r["n_words"] for r in got) / len(got)
    corpus_mean = (
        load(spark, sf001_dir, "documents")
        .select(F.avg(F.size(F.split("text", " "))))
        .collect()[0][0]
    )
    assert sel_mean > corpus_mean, (sel_mean, corpus_mean)
    again = entry_mod.queries()["weighted_sample_topk"](spark, sf001_dir).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in again]


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


def test_bpe_matches_reference(spark, sf001_dir):
    """Distributed BPE == pure-Python reference, byte-exact: the full
    merge sequence (pairs, order, weighted counts) AND every word's
    final tokenization."""
    from text_extractor_for_bioeconomic_products_spark.operators.bpe import (
        bpe_train,
        reference_bpe,
        word_frequencies,
    )
    from text_extractor_for_bioeconomic_products_spark.sources.tables import load

    vocab = word_frequencies(load(spark, sf001_dir, "documents"))
    wf = {r["w"]: r["freq"] for r in vocab.collect()}
    merges, tokenized = bpe_train(vocab)
    ref_merges, ref_toks = reference_bpe(wf)
    assert merges == ref_merges
    got_toks = {r["w"]: list(r["syms"]) for r in tokenized.collect()}
    assert got_toks == ref_toks
    # tokenization is lossless: concatenating symbols restores the word
    assert all("".join(syms) == w for w, syms in got_toks.items())


def test_bpe_greedy_overlap_semantics(spark):
    """'aaa' under merge (a,a): greedy left-to-right gives [aa, a] — the
    overlap case where a naive regex replace diverges."""
    from text_extractor_for_bioeconomic_products_spark.operators.bpe import (
        bpe_train,
    )

    vocab = spark.createDataFrame([("aaa", 5), ("aab", 3)], "w string, freq long")
    merges, tokenized = bpe_train(vocab, n_merges=1)
    assert merges[0][:2] == ("a", "a")
    toks = {r["w"]: list(r["syms"]) for r in tokenized.collect()}
    assert toks["aaa"] == ["aa", "a"]
    assert toks["aab"] == ["aa", "b"]


def test_bpe_encode_matches_reference(spark, sf001_dir):
    """Encoding the corpus with the learned merges must agree with the
    pure-Python reference word-by-word: each doc's token count equals
    the sum of its words' reference tokenizations."""
    from text_extractor_for_bioeconomic_products_spark.operators.bpe import (
        bpe_encode,
        bpe_train,
        reference_bpe,
        word_frequencies,
    )
    from text_extractor_for_bioeconomic_products_spark.sources.tables import load

    docs = load(spark, sf001_dir, "documents").limit(40).cache()
    vocab = word_frequencies(docs)
    wf = {r["w"]: r["freq"] for r in vocab.collect()}
    merges, _ = bpe_train(vocab)
    _ref_merges, ref_toks = reference_bpe(wf)
    got = {r["doc_id"]: r for r in
           bpe_encode(docs, [(a, b) for a, b, _n in merges]).collect()}

    import re

    for d in docs.select("doc_id", "text").collect():
        words = [w for w in re.split(r"[^a-z0-9]+", d["text"].lower()) if w]
        want_tokens = sum(len(ref_toks[w]) for w in words)
        assert got[d["doc_id"]]["n_words"] == len(words)
        assert got[d["doc_id"]]["n_tokens"] == want_tokens
    # merges bind: tokens strictly fewer than characters overall
    total_chars = sum(
        len(w) for d in docs.select("text").collect()
        for w in re.split(r"[^a-z0-9]+", d["text"].lower()) if w
    )
    assert sum(r["n_tokens"] for r in got.values()) < total_chars


def test_bpe_encode_query_contract(spark, sf001_dir):
    """Driver-query shape: per-source rows, 1 <= tokens_per_word and
    tokens never exceed raw characters-per-word bound."""
    import __spark_entry__ as entry_mod

    rows = entry_mod.queries()["bpe_encode"](spark, sf001_dir).collect()
    assert rows
    for r in rows:
        assert r["n_docs"] > 0 and r["total_words"] > 0
        assert r["total_tokens"] >= r["total_words"]  # every word ≥1 token
        assert 1.0 <= r["tokens_per_word"]


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


def test_per_source_cap_deterministic_and_binding(spark, sf001_dir):
    """The domain cap must (a) bind: no source keeps more than
    CAP_PER_SOURCE docs; (b) select the SAME documents regardless of
    physical layout — kept_id_sum (the census checksum of selected ids)
    must be identical when the input arrives with a different partition
    count, because the coin is a pure function of doc_id."""
    import __spark_entry__ as entry_mod
    from text_extractor_for_bioeconomic_products_spark.operators.curation import (
        CAP_PER_SOURCE,
    )

    rows = entry_mod.queries()["per_source_cap"](spark, sf001_dir).collect()
    assert rows
    for r in rows:
        assert r["n_kept"] == min(CAP_PER_SOURCE, r["n_docs"])

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        rows2 = entry_mod.queries()["per_source_cap"](
            spark, sf001_dir
        ).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    key = lambda rs: sorted((r["source"], r["kept_id_sum"]) for r in rs)  # noqa: E731
    assert key(rows) == key(rows2)


def test_word_ngrams_exact_and_short_rows(spark, tmp_path):
    """word_ngrams: exact 2- and 3-grams in order; a row shorter than n
    yields an empty array (Spark's sequence(1, k) runs DESCENDING for
    k < 1, so the guard must hold); ``words`` is a column the caller
    selected, so the plan splits each text once, not once per n-gram."""
    import pandas as pd
    from pyspark.sql import functions as F

    from text_extractor_for_bioeconomic_products_spark.operators.curation import (
        word_ngrams,
    )

    pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": ["a b c d", "a b", "a"],
    }).to_parquet(str(tmp_path / "docs.parquet"))
    words = spark.read.parquet(str(tmp_path / "docs.parquet")).select(
        "doc_id", F.split("text", " ").alias("words")
    )
    out = words.select(
        "doc_id",
        word_ngrams(F.col("words"), 2).alias("g2"),
        word_ngrams(F.col("words"), 3).alias("g3"),
    )
    rows = {r["doc_id"]: (r["g2"], r["g3"]) for r in out.collect()}
    assert rows[0] == (["a b", "b c", "c d"], ["a b c", "b c d"])
    assert rows[1] == (["a b"], [])
    assert rows[2] == ([], [])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("split(") == 1, plan
