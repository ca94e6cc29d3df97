"""Streaming import (§2.9): micro-batched docs → statement table, with
cross-batch annotation backlog semantics, compared against the batch
pipeline on the same corpus."""

import pytest
from pyspark.sql import Window, functions as F

from ldtab_clj_spark.plans.pipeline import build_statements
from ldtab_clj_spark.streaming.pipeline import (read_stream_result,
                                                run_streaming_import)
from ldtab_clj_spark.synth import entity_dictionary, synth_docs

N_DOCS = 90


def key_set(df):
    return {(r.graph, r.subject, r.predicate, r.object, r.datatype,
             r.annotation) for r in df.collect()}


def test_streaming_import_equals_batch(spark, tmp_path):
    docs = synth_docs(spark, N_DOCS, seed=11).localCheckpoint()
    in_dir = str(tmp_path / "docs_in")
    # three windows (files) — micro-batch boundaries cut doc set in 3
    for i in range(3):
        (docs.filter(F.crc32(F.col("doc_id")) % 3 == i)
         .coalesce(1).write.mode("append").parquet(in_dir))

    table = str(tmp_path / "statement_stream")
    ckpt = str(tmp_path / "ckpt")
    q = run_streaming_import(spark, in_dir, table, ckpt,
                             entity_dictionary(spark))
    q.awaitTermination(300)

    got = key_set(read_stream_result(spark, table))
    want = key_set(build_statements(docs, entity_dictionary(spark)))
    assert got == want, (len(got), len(want),
                         list(got - want)[:3], list(want - got)[:3])


def test_streaming_import_is_idempotent_on_replay(spark, tmp_path):
    """Resumability: re-running the whole stream into the same table
    (fresh checkpoint = worst-case full replay) must not change the
    dedup-on-read result."""
    docs = synth_docs(spark, 30, seed=5).localCheckpoint()
    in_dir = str(tmp_path / "docs_in2")
    docs.coalesce(1).write.mode("append").parquet(in_dir)
    table = str(tmp_path / "stmt2")

    for attempt in range(2):
        ckpt = str(tmp_path / f"ckpt2_{attempt}")
        q = run_streaming_import(spark, in_dir, table, ckpt,
                                 entity_dictionary(spark))
        q.awaitTermination(300)
    result = read_stream_result(spark, table)
    want = build_statements(docs, entity_dictionary(spark))
    assert key_set(result) == key_set(want)


def test_streaming_backlog_uses_compact_key_table(spark, tmp_path):
    """The cross-batch superfluous-annotation rule reads prior keys
    from the compact ``_annkeys`` side table — O(batch + key-table) per
    micro-batch — never by re-scanning the statement table. Pinned by
    driving ``_start_streaming`` directly with an identity
    statements_fn over three ordered statement files."""
    from ldtab_clj_spark.schemas import STATEMENT
    from ldtab_clj_spark.streaming.pipeline import (_start_streaming,
                                                    ann_keys_path)

    ann = '{"ex:cur":[{"datatype":"_IRI","meta":"owl:Axiom","object":"a"}]}'
    k1 = (1, 0, "graph", "ex:a", "ex:p", "ex:b", "_IRI")
    k2 = (1, 0, "graph", "ex:x", "ex:q", "lit", "xsd:string")
    batches = [
        [k1 + (None,), k2 + (None,)],   # bare K1, bare K2
        [k1 + (ann,)],                  # annotated twin of K1 arrives
        [k1 + (None,)],                 # bare K1 again → backlog drops
    ]
    in_dir = str(tmp_path / "bk_in")
    for rows in batches:
        spark.createDataFrame(rows, STATEMENT).coalesce(1) \
            .write.mode("append").parquet(in_dir)
    table = str(tmp_path / "bk_table")
    stream = (spark.readStream.schema(STATEMENT)
              .option("maxFilesPerTrigger", 1).parquet(in_dir))
    q = _start_streaming(spark, stream, lambda df: df, table,
                         str(tmp_path / "bk_ckpt"))
    q.awaitTermination(300)

    # dedup-on-read: K1 survives only annotated, K2 only bare
    got = key_set(read_stream_result(spark, table))
    assert got == {k1[2:] + (ann,), k2[2:] + (None,)}
    # the raw appends show the backlog acted: batch 3's bare K1 was
    # dropped at write time (2 + 1 + 0 rows), not just masked on read
    assert spark.read.parquet(table).count() == 3
    # side table holds exactly the distinct annotated keys — the only
    # prior-batch state a micro-batch ever reads
    side = spark.read.parquet(ann_keys_path(table))
    assert {tuple(r) for r in side.collect()} == {k1[2:7]}


def test_ann_keys_side_table_stays_bounded(spark, tmp_path):
    """Round-3 finding: the side table accreted one file + one
    duplicate key set per micro-batch forever. With periodic
    compaction (every N batches) plus the end-of-stream compaction in
    read_stream_result, rows collapse to the DISTINCT annotated keys
    and the file count stays bounded by shuffle partitions — across
    3N batches that all re-announce the same annotation."""
    from pathlib import Path

    from ldtab_clj_spark.schemas import STATEMENT
    from ldtab_clj_spark.streaming.pipeline import (_start_streaming,
                                                    ann_keys_path)

    ann = '{"ex:src":[{"datatype":"xsd:string","object":"dup"}]}'
    k_ann = (1, 0, "graph", "ex:s", "ex:p", "ex:o", "_IRI")
    n_batches, compact_every = 6, 2
    in_dir = str(tmp_path / "cp_in")
    for i in range(n_batches):
        rows = [k_ann + (ann,),  # same annotated key EVERY batch
                (1, 0, "graph", f"ex:b{i}", "ex:p", "x", "_IRI", None)]
        spark.createDataFrame(rows, STATEMENT).coalesce(1) \
            .write.mode("append").parquet(in_dir)
    table = str(tmp_path / "cp_table")
    stream = (spark.readStream.schema(STATEMENT)
              .option("maxFilesPerTrigger", 1).parquet(in_dir))
    # pin shuffle partitions for the file-count bound: an earlier test
    # going through get_spark().getOrCreate() re-applies its own value
    # (e.g. 32) onto the shared session, which would defeat the
    # "fewer files than batches" comparison below
    old_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = _start_streaming(spark, stream, lambda df: df, table,
                             str(tmp_path / "cp_ckpt"),
                             compact_every=compact_every)
        q.awaitTermination(300)
        result = read_stream_result(spark, table)  # completion compaction
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_shuffle)

    side_files = list(Path(ann_keys_path(table)).glob("*.parquet"))
    side = spark.read.parquet(ann_keys_path(table))
    assert side.count() == 1  # distinct annotated keys, not 6
    assert 1 <= len(side_files) <= 4 < n_batches * 2
    # streamed content still equals the batch-equivalent set
    want = {k_ann[2:] + (ann,)} | {
        ("graph", f"ex:b{i}", "ex:p", "x", "_IRI", None)
        for i in range(n_batches)}
    assert key_set(result) == want


def test_compaction_survives_concurrent_append(spark, tmp_path):
    """r4 ADVICE (medium): the old read→rmtree→rename swap deleted a
    key file appended by a concurrent import between the snapshot read
    and the rmtree — losing committed keys, so bare rows that should
    be suppressed as superfluous survived later batches. The add-then-
    remove merge must preserve a file landing in exactly that window
    (injected via the _post_read_hook test seam)."""
    from ldtab_clj_spark.streaming.pipeline import (KEYS, ann_keys_path,
                                                    compact_ann_keys)

    table = str(tmp_path / "race_table")
    keys_path = ann_keys_path(table)
    k_old = ("graph", "ex:s", "ex:p", "ex:o", "_IRI")
    k_new = ("graph", "ex:s2", "ex:p", "ex:o2", "_IRI")
    # two appends of the same key = the duplication compaction removes
    for _ in range(2):
        spark.createDataFrame([k_old], KEYS).coalesce(1) \
            .write.mode("append").parquet(keys_path)

    def concurrent_append():  # "another process", mid-compaction
        spark.createDataFrame([k_new], KEYS).coalesce(1) \
            .write.mode("append").parquet(keys_path)

    compact_ann_keys(spark, table, _post_read_hook=concurrent_append)
    got = {tuple(r) for r in spark.read.parquet(keys_path).collect()}
    assert got == {k_old, k_new}  # deduped AND nothing lost
    # second compaction (no race) collapses to exactly the distinct set
    compact_ann_keys(spark, table)
    assert spark.read.parquet(keys_path).count() == 2


def test_watermarked_window_agg_stream_equals_batch(spark, tmp_path):
    """Watermark + tumbling window over a file stream of events ==
    the same aggregation run in batch."""
    from ldtab_clj_spark.streaming.windows import hourly_event_counts
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    in_dir = str(tmp_path / "ev_in")
    # stream in event-time order so no window's data arrives after its
    # watermark expires (three ordered chunks)
    e = events.withColumn("_bucket",
                          F.ntile(3).over(Window.orderBy("ts")))
    for i in range(1, 4):
        (e.filter(F.col("_bucket") == i).drop("_bucket")
         .coalesce(1).write.mode("append").parquet(in_dir))

    stream = (spark.readStream.schema(events.schema)
              .option("maxFilesPerTrigger", 1).parquet(in_dir))
    out_dir = str(tmp_path / "ev_out")
    q = (hourly_event_counts(stream).writeStream
         .format("parquet").option("path", out_dir)
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ev_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)

    got = {(r.hour, r.event_type): (r.n, r.sum_value)
           for r in spark.read.parquet(out_dir).collect()}
    want = {(r.hour, r.event_type): (r.n, r.sum_value)
            for r in hourly_event_counts(events).collect()}
    # append mode only emits windows the watermark has CLOSED; every
    # emitted window must match batch exactly, and most windows close
    assert got
    for k, v in got.items():
        assert want[k] == v, k
    assert len(got) >= len(want) * 0.5, (len(got), len(want))


def test_streaming_nt_import_equals_batch(spark, tmp_path):
    """Incremental N-Triples import (the reference's --streaming
    surface): one file per micro-batch, blank components resolved per
    file, cross-batch annotation backlog — final table equals the
    batch import of the same files."""
    from ldtab_clj_spark.operators.export import write_ntriples
    from ldtab_clj_spark.sources.ntriples import import_ntriples
    from ldtab_clj_spark.streaming.pipeline import run_streaming_import_nt
    prefix_df = spark.createDataFrame(
        [("ex", "http://example.com/"),
         ("rdf", "http://www.w3.org/1999/02/22-rdf-syntax-ns#"),
         ("rdfs", "http://www.w3.org/2000/01/rdf-schema#"),
         ("owl", "http://www.w3.org/2002/07/owl#"),
         ("xsd", "http://www.w3.org/2001/XMLSchema#")],
        "prefix string, base string")
    # three .nt files with self-contained stanzas (incl. blanks +
    # annotations) from the synth pipeline's NT export
    docs = synth_docs(spark, 45, seed=17)
    statements = build_statements(docs, entity_dictionary(spark)) \
        .localCheckpoint()
    nt_dir = str(tmp_path / "nt_in")
    write_ntriples(statements.repartition(3), prefix_df, nt_dir)

    table = str(tmp_path / "stream_table")
    q = run_streaming_import_nt(spark, nt_dir, table,
                                str(tmp_path / "ckpt"), prefix_df)
    q.awaitTermination()
    streamed = key_set(read_stream_result(spark, table))
    batch = key_set(import_ntriples(spark, nt_dir, prefix_df))
    assert streamed == batch and streamed


def test_streaming_backlog_bootstraps_from_existing_table(spark, tmp_path):
    """Streaming into a table populated BEFORE this run (no _annkeys
    side table yet): the first batch bootstraps the side table from
    the statement table once, so previously-annotated keys still
    suppress late bare twins."""
    from ldtab_clj_spark.schemas import STATEMENT
    from ldtab_clj_spark.streaming.pipeline import (_start_streaming,
                                                    ann_keys_path)

    ann = '{"ex:cur":[{"datatype":"_IRI","meta":"owl:Axiom","object":"a"}]}'
    k1 = (1, 0, "graph", "ex:a", "ex:p", "ex:b", "_IRI")
    table = str(tmp_path / "pre_table")
    # pre-existing table with an annotated row, written outside streaming
    spark.createDataFrame([k1 + (ann,)], STATEMENT).coalesce(1) \
        .write.parquet(table)

    in_dir = str(tmp_path / "pre_in")
    spark.createDataFrame([k1 + (None,)], STATEMENT).coalesce(1) \
        .write.parquet(in_dir)  # late bare twin arrives via the stream
    stream = (spark.readStream.schema(STATEMENT)
              .option("maxFilesPerTrigger", 1).parquet(in_dir))
    q = _start_streaming(spark, stream, lambda df: df, table,
                         str(tmp_path / "pre_ckpt"))
    q.awaitTermination(300)

    got = key_set(read_stream_result(spark, table))
    assert got == {k1[2:] + (ann,)}          # bare twin suppressed
    assert spark.read.parquet(table).count() == 1   # not even appended
    side = spark.read.parquet(ann_keys_path(table))
    assert {tuple(r) for r in side.collect()} == {k1[2:7]}


def test_session_window_stream_equals_batch(spark, tmp_path):
    """Native session_window over a watermarked file stream == the
    same aggregation in batch (finalized sessions only, append mode)."""
    from ldtab_clj_spark.streaming.windows import session_event_counts
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    in_dir = str(tmp_path / "sw_in")
    e = events.withColumn("_bucket",
                          F.ntile(3).over(Window.orderBy("ts")))
    for i in range(1, 4):
        (e.filter(F.col("_bucket") == i).drop("_bucket")
         .coalesce(1).write.mode("append").parquet(in_dir))

    stream = (spark.readStream.schema(events.schema)
              .option("maxFilesPerTrigger", 1).parquet(in_dir))
    out_dir = str(tmp_path / "sw_out")
    q = (session_event_counts(stream).writeStream
         .format("parquet").option("path", out_dir)
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "sw_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)

    got = {(r.user_id, r.session_start, r.session_end, r.n_events)
           for r in spark.read.parquet(out_dir).collect()}
    want = {(r.user_id, r.session_start, r.session_end, r.n_events)
            for r in session_event_counts(events).collect()}
    # append mode emits only watermark-finalized sessions; each one
    # must match batch exactly, and most sessions should finalize
    assert got and got <= want
    assert len(got) >= len(want) * 0.5, (len(got), len(want))
