"""The benchmark's workloads.

Each workload has these parts that the harness (``run.py``) drives:

* ``inputs(ctx, d)``: write the seeded inputs under ``d``. Part of
  set-up; the harness repeats it and reports the median.
* ``oracle(ctx, state)``: the expected outputs, computed once in
  set-up, without Spark, from the seed and the inputs.
* ``pass_s``: nominal seconds one pass of ``ops`` takes on a 4-core
  host. The harness turns ``--seconds`` into a fixed pass count with it.
  At the benchmark's 27 s that is 2 passes of ``kg_import``, whose ops
  run for seconds each, and 3 of ``operator_suite``, whose sub-second
  queries need the third pass to make their median robust to one
  pass slowed by the host.
* ``ops(ctx, state)``: the timed operations of one pass, as
  ``(name, group, run, check)``. ``group`` is ``"base"`` (the
  workload's ops on its base input) or ``"stress"`` (ops on an input
  made to stress one mechanism); the harness reports the two groups as
  ``base_s`` and ``stress_s``. ``run()`` is timed and returns the
  output; ``check(output)`` runs outside the timed region and returns
  one bool per operation it covers (a stream covers its
  micro-batches). ``state`` is what ``inputs`` returned plus
  ``state["oracle"]``. The harness runs one unchecked pass first as
  the warm-up, which pays JIT, codegen and Python-worker start-up on
  the real inputs.
* ``layers``: prefixes of the per-layer metric names the workload's
  traced run must produce; the harness fails the run if one is missing.

``decompose(ctx, state, traced)`` runs only in traced runs. It calls the
program's public functions layer by layer inside spans and returns the
span records and counts that ``layers.py`` turns into per-layer
metrics. ``traced`` maps each op name to its output from the last
traced pass.

The program only ever sees files: every input is written to disk in
``inputs`` and read back by the timed code.
"""

from __future__ import annotations

import statistics
from collections import Counter
from pathlib import Path

from pyspark.sql import Observation
from pyspark.sql import functions as F

BENCH_DIR = Path(__file__).resolve().parent
SUITE_DATA = BENCH_DIR / "data" / "sf0.01"

STATEMENT_COLS = ("assertion", "retraction", "graph", "subject",
                  "predicate", "object", "datatype", "annotation")

# the prefix table an `ldtab prefix` call would load for synth output
PREFIXES = [("ex", "http://example.com/"),
            ("rdf", "http://www.w3.org/1999/02/22-rdf-syntax-ns#"),
            ("rdfs", "http://www.w3.org/2000/01/rdf-schema#"),
            ("owl", "http://www.w3.org/2002/07/owl#"),
            ("xsd", "http://www.w3.org/2001/XMLSchema#")]


def statement_multiset(rows) -> Counter:
    """Statement rows (Rows or dicts) as a multiset of tuples."""
    return Counter(tuple(r[c] for c in STATEMENT_COLS) for r in rows)


def oracle_statements(n_docs: int, seed: int) -> Counter:
    from ldtab_clj_spark.plans.single_node import single_node_statements
    return statement_multiset(single_node_statements(n_docs, seed))


def noop_write(df) -> int:
    """Run ``df`` to completion without collecting it; returns its row
    count, observed on the same job."""
    obs = Observation()
    (df.observe(obs, F.count(F.lit(1)).alias("rows"))
     .write.format("noop").mode("overwrite").save())
    return int(obs.get["rows"] or 0)


def call_span(ctx, name: str, body) -> dict:
    """Run ``body(rec)`` inside a span named ``name``; returns the span
    record."""
    with ctx.tracer.span(name) as rec:
        body(rec)
    return rec


def prefix(ctx, name: str, build) -> dict:
    """Cumulative layer prefix: build the plan inside a span (so eager
    planning jobs count too) and run it into a noop sink."""
    def body(rec):
        rec["rows"] = noop_write(build())
    return call_span(ctx, name, body)


def decompose_build(ctx, docs_path: str, dict_df, build: dict) -> dict:
    """Per-layer spans of docs → statements → committed table, and the
    row ratios at each layer boundary. ``build`` is the traced span of
    the ``build`` op: ``build_statements`` is the chain of the layer
    calls below, so with ``write_statements`` it is the last prefix."""
    from ldtab_clj_spark.operators.extract import extract_thin_triples
    from ldtab_clj_spark.operators.link import link_entities
    from ldtab_clj_spark.operators.materialize import dedup_statements
    from ldtab_clj_spark.operators.stanza import thin_to_thick_df
    spark, parts = ctx.spark, ctx.cores

    def docs():
        return spark.read.parquet(docs_path)

    def thin():
        return extract_thin_triples(docs())

    def linked():
        return link_entities(thin(), dict_df)

    def thick():
        return thin_to_thick_df(linked(), partitions=parts)

    out = {"extract": prefix(ctx, "prefix:extract", thin),
           "link": prefix(ctx, "prefix:link", linked),
           "stanza": prefix(ctx, "prefix:stanza", thick),
           "materialize.dedup": prefix(ctx, "prefix:materialize.dedup",
                                       lambda: dedup_statements(thick())),
           "materialize.write": build}

    # row flow at the layer boundaries (untimed, outside every span)
    n_spans = docs().select(F.sum(F.size("spans"))).first()[0]
    t = thin().agg(
        F.countDistinct("doc_id", "span_order").alias("parsed"),
        F.sum(F.col("subject").startswith("surface:").cast("int"))
        .alias("ms"),
        F.sum((F.col("object").startswith("surface:")
               & (F.col("datatype") == "_IRI")).cast("int"))
        .alias("mo")).first()
    lk = linked().agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum((~F.col("is_blank_s") & ~F.col("is_blank_o")).cast("int"))
        .alias("ground"),
        F.sum(F.col("subject").startswith("<unlinked:").cast("int"))
        .alias("us"),
        F.sum(F.col("object").startswith("<unlinked:").cast("int"))
        .alias("uo")).first()
    mentions = (t["ms"] or 0) + (t["mo"] or 0)
    out["ratios"] = {
        "extract.parsed_ratio": t["parsed"] / n_spans if n_spans else 0.0,
        "link.linked_ratio":
            1 - ((lk["us"] or 0) + (lk["uo"] or 0)) / mentions
            if mentions else 0.0,
        "stanza.ground_ratio":
            (lk["ground"] or 0) / lk["rows"] if lk["rows"] else 0.0,
        "materialize.dedup.kept_ratio":
            out["materialize.dedup"]["rows"] / out["stanza"]["rows"]
            if out["stanza"]["rows"] else 0.0,
    }
    return out


class KgImport:
    """Import of one seeded docs corpus, two ops per pass:

    * ``build`` (base): bulk import of the whole corpus. The docs
      parquet → ``build_statements`` → ``write_statements``
      (subject-partitioned parquet plus lineage sidecar). At this size
      per-row work in extract, link, stanza and materialize is about
      half of the wall; at 2k docs the fixed cost per job is most of
      it. Checked against the single-node oracle and ``verify_lineage``.
    * ``stream`` (stress): ``import --streaming`` of the corpus's first
      ``n_stream_docs`` docs, range-split on doc_id into ``n_files``
      small parquet files, one micro-batch each →
      ``run_streaming_import(availableNow)`` → ``read_stream_result``
      (end-of-stream ``_annkeys`` compaction and dedup-on-read),
      collected. Fixed cost per job and per append dominates here.
      Checked against the single-node oracle of those docs; every
      micro-batch counts as an operation.
    """

    name = "kg_import"
    n_docs = 12000
    n_stream_docs = 1000
    n_files = 2
    pass_s = 10  # nominal seconds per pass, checks included, at local[4]
    layers = ("extract.", "link.", "stanza.", "materialize.", "export.",
              "sources.", "components.", "diff.", "roundtrip.",
              "streaming.", "spark.", "trace.")

    def inputs(self, ctx, d: Path) -> dict:
        from ldtab_clj_spark.synth import entity_dictionary, synth_docs
        docs, stream_in = str(d / "docs"), str(d / "stream_in")
        synth_docs(ctx.spark, self.n_docs, seed=ctx.seed).write.parquet(docs)
        # synth doc ids are zero-padded: the string order is the number
        # order, and range partitioning puts each doc in exactly one file
        (ctx.spark.read.parquet(docs)
         .where(F.col("doc_id") < f"doc-{self.n_stream_docs:010d}")
         .repartitionByRange(self.n_files, "doc_id").write.parquet(stream_in))
        return {"docs": docs, "stream_in": stream_in,
                "dict": entity_dictionary(ctx.spark),
                "table": str(d / "table"), "streams": 0}

    def oracle(self, ctx, state: dict) -> dict:
        return {"build": oracle_statements(self.n_docs, ctx.seed),
                "stream": oracle_statements(self.n_stream_docs, ctx.seed)}

    def ops(self, ctx, state: dict):
        from ldtab_clj_spark.operators.materialize import (verify_lineage,
                                                           write_statements)
        from ldtab_clj_spark.plans.pipeline import build_statements
        from ldtab_clj_spark.streaming.pipeline import (read_stream_result,
                                                        run_streaming_import)
        spark = ctx.spark

        def build():
            with ctx.tracer.span("build:run") as rec:
                docs = spark.read.parquet(state["docs"])
                info = write_statements(
                    build_statements(docs, state["dict"],
                                     partitions=ctx.cores),
                    state["table"], partitions=ctx.cores)
            return {"info": info, "span": rec}

        def check_build(out):
            rows = spark.read.parquet(state["table"]).collect()
            return [statement_multiset(rows) == state["oracle"]["build"]
                    and out["info"]["batch_rows"] == len(rows)
                    and bool(verify_lineage(spark, state["table"]))]

        def stream():
            state["streams"] += 1
            d = ctx.work / f"stream{state['streams']}"
            table = str(d / "table")
            with ctx.tracer.span("stream:run") as run_rec:
                q = run_streaming_import(spark, state["stream_in"], table,
                                         str(d / "checkpoint"), state["dict"])
                q.awaitTermination()
            with ctx.tracer.span("stream:read_result") as read_rec:
                rows = read_stream_result(spark, table).collect()
            batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
            return {"rows": rows, "batches": batches, "table": table,
                    "run_span": run_rec, "read_span": read_rec}

        def check_stream(out):
            ok = statement_multiset(out["rows"]) == state["oracle"]["stream"]
            # one operation per micro-batch plus the final result
            n = len(out["batches"])
            return [n == self.n_files] * max(n, 1) + [ok]

        return [("build", "base", build, check_build),
                ("stream", "stress", stream, check_stream)]

    def decompose(self, ctx, state: dict, traced: dict) -> dict:
        from ldtab_clj_spark.operators.components import assign_components
        from ldtab_clj_spark.operators.diff import diff_statements
        from ldtab_clj_spark.operators.export import write_ntriples
        from ldtab_clj_spark.sources.ntriples import (import_ntriples,
                                                      read_ntriples)
        from ldtab_clj_spark.streaming.pipeline import (ann_keys_path,
                                                        read_stream_result)
        spark = ctx.spark
        last = traced["stream"]
        batches = last["batches"]
        out = {
            "stream.run": last["run_span"], "stream.read": last["read_span"],
            "batches": len(batches),
            "batch_p50_s": statistics.median(
                p["batchDuration"] for p in batches) / 1e3,
            "overhead_s": statistics.median(
                p["durationMs"]["triggerExecution"]
                - p["durationMs"].get("addBatch", 0)
                for p in batches) / 1e3,
            "annkeys_rows": spark.read.parquet(
                ann_keys_path(last["table"])).count(),
        }
        build = traced["build"]
        out.update(decompose_build(
            ctx, state["docs"], state["dict"],
            dict(build["span"], rows=build["info"]["batch_rows"])))

        # export → re-import → diff: the reference's own round-trip
        # oracle, on the stream's result (on the whole corpus the
        # component rounds would outlast the run)
        prefix_df = spark.createDataFrame(PREFIXES,
                                          "prefix string, base string")
        nt_dir = str(ctx.work / "decomp_nt")
        original = read_stream_result(spark, last["table"])
        out["export"] = call_span(
            ctx, "call:export",
            lambda rec: write_ntriples(original, prefix_df, nt_dir))
        out["export"]["rows"] = spark.read.text(nt_dir).count()
        out["sources"] = prefix(
            ctx, "prefix:sources",
            lambda: read_ntriples(spark, nt_dir, prefix_df))

        def components(rec):
            with ctx.tracer.span("call:components.assign"):
                grouped = assign_components(
                    read_ntriples(spark, nt_dir, prefix_df))
            rec["rows"] = noop_write(grouped)
        out["components"] = call_span(ctx, "prefix:components", components)
        out["components.assign"] = next(
            r for r in ctx.tracer.spans
            if r["parent"] == out["components"]["id"])
        results = {}

        def reimport(rec):
            results["import"] = import_ntriples(
                spark, nt_dir, prefix_df).localCheckpoint()
        out["import"] = call_span(ctx, "call:import", reimport)

        def diff(rec):
            results["delta"] = diff_statements(original, results["import"],
                                               2).collect()
            rec["rows"] = len(results["delta"])
        out["diff"] = call_span(ctx, "call:diff", diff)
        same = (statement_multiset(results["import"].collect())
                == statement_multiset(original.collect()))
        # export, import and diff are three operations of the round trip
        out["checks"] = [same, same, same and not results["delta"]]
        return out


def _norm_cell(v) -> str:
    if isinstance(v, float):
        return "NaN" if v != v else f"{v:.9g}"
    return str(v)


def _norm_frame(df) -> tuple:
    """Order-free, float-tolerant form of a result frame, as
    tools/check_oracles.py compares Spark results with DuckDB."""
    cols = sorted(df.columns)
    kinds = tuple("O" if df[c].dtype.kind in "Ob" else df[c].dtype.kind
                  for c in cols)
    rows = sorted(tuple(_norm_cell(v) for v in r)
                  for r in df[cols].itertuples(index=False, name=None))
    return cols, kinds, rows


# words of the sf0.01 documents table
VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()


def write_hot_bucket_tables(d: Path, seed: int, n: int, n_hot: int) -> None:
    """Seeded ``documents`` and ``embeddings`` tables of ``n`` rows in
    the sf0.01 schema, where ``n_hot`` rows are near-copies of one row:
    a one-word edit of one text, and one vector plus small noise. Their
    LSH bucket in each band holds most of the hot rows, and so most of
    the candidate pairs; every other row is random and lands in a thin
    bucket."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = np.random.default_rng(seed)
    hot = np.zeros(n, dtype=bool)
    hot[rng.permutation(n)[:n_hot]] = True
    template = rng.choice(VOCAB, 40)
    texts = []
    for is_hot in hot:
        if is_hot:
            words = template.copy()
            words[rng.integers(len(words))] = rng.choice(VOCAB)
        else:
            words = rng.choice(VOCAB, rng.integers(20, 60))
        texts.append(" ".join(words))
    d.mkdir(parents=True)
    ids = pa.array(range(n), pa.int64())
    pq.write_table(pa.table({
        "doc_id": ids, "text": texts, "lang": ["en"] * n,
        "source": [f"src{i % 5}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        d / "documents.parquet")
    centre = rng.normal(size=64)
    vecs = np.where(hot[:, None],
                    centre + rng.normal(scale=0.1, size=(n, 64)),
                    rng.normal(size=(n, 64))).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": ids,
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 5, n), pa.int32())}),
        d / "embeddings.parquet")


def duckdb_oracles(data: Path, tables, queries) -> dict:
    """Normalised DuckDB ``ORACLE_SQL`` results of ``queries`` over the
    parquet tables in ``data``."""
    import duckdb
    from ldtab_clj_spark.queries import ORACLE_SQL
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{data}/{t}.parquet'")
        return {q: _norm_frame(con.execute(ORACLE_SQL[q]).df())
                for q in queries}
    finally:
        con.close()


class OperatorSuite:
    """Oracle-checked operator queries of the registry, with no KG
    layer in their path. Each query's collected result is checked
    against its DuckDB ``ORACLE_SQL``.

    * base: ``queries`` over a fixed TPC-H-shaped table set (a copy of
      the sf0.01 test data), where every LSH bucket is thin.
    * stress: the banded-similarity queries ``hot_queries`` again, as
      ``hot.<query>``, over seeded tables with one hot bucket (see
      ``write_hot_bucket_tables``), where that bucket's pairs are most of
      the work.
    """

    name = "operator_suite"
    pass_s = 9  # nominal seconds per pass, checks included, at local[4]
    # what fits the run budget out of bench.HEADLINE: the TPC-H shapes
    # ROADMAP names (q5 broadcast hints, q9/q18 pre-aggregation), the
    # banded-similarity and dedup operators, and one text operator
    queries = ("tpch_q5", "tpch_q9", "tpch_q18",
               "dedup_minhash_lsh", "dedup_simhash_pairs",
               "text_fingerprint", "ann_srp_near_dup")
    # the banded queries whose hot bucket costs time at this size
    # (simhash's hot bucket runs as fast as its thin ones)
    hot_queries = ("dedup_minhash_lsh", "ann_srp_near_dup")
    n_hot_rows, n_hot = 1500, 500
    layers = ("queries.", "spark.", "trace.")

    def inputs(self, ctx, d: Path) -> dict:
        write_hot_bucket_tables(d / "hot", ctx.seed, self.n_hot_rows,
                                self.n_hot)
        return {"hot": d / "hot"}

    def oracle(self, ctx, state: dict) -> dict:
        from ldtab_clj_spark.queries import TABLES
        out = duckdb_oracles(SUITE_DATA, TABLES, self.queries)
        out.update((f"hot.{q}", r) for q, r in duckdb_oracles(
            state["hot"], ("documents", "embeddings"),
            self.hot_queries).items())
        return out

    def ops(self, ctx, state: dict):
        from ldtab_clj_spark.queries import ALL_QUERIES

        def op(name, group, q, data):
            fn = ALL_QUERIES[q]

            def run():
                return fn(ctx.spark, str(data)).toPandas()

            def check(pdf):
                return [_norm_frame(pdf) == state["oracle"][name]]

            return name, group, run, check

        return ([op(q, "base", q, SUITE_DATA) for q in self.queries]
                + [op(f"hot.{q}", "stress", q, state["hot"])
                   for q in self.hot_queries])

    def decompose(self, ctx, state: dict, traced: dict) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (KgImport(), OperatorSuite())}
