"""The two workloads, ``profile`` and ``pipeline`` (a corpus stage and an
ingest stage). Each is a closed loop with one client: a pass runs the
workload's operations one after another, each consuming its result
before the next starts, and the run repeats passes until its time is
up.

Every operation is timed as a whole by ``Tracer.op``; inside it each
public engine call is a ``build`` span and each consuming action an
``exec`` span, attributed to the layer named at the call site. The
checks run after the timed region.
"""

from __future__ import annotations

import os
import shutil
import sys
import traceback

from pyspark.sql import functions as F

import checks
import gen

#: Floors for the probabilistic answers (measured well above them on
#: every seed tried; a drop below is a recall regression, not noise).
NEAR_DUP_RECALL_FLOOR = 0.9
SEMANTIC_RECALL_FLOOR = 0.9
IVF_RECALL_FLOOR = 0.6

#: lineitem columns the sketch path profiles approximately.
SKETCH_COLUMNS = ["l_quantity", "l_extendedprice", "l_discount"]

PII_PLACEHOLDER = "<(EMAIL|CREDIT_CARD|SSN|PHONE|IPV4)>"


class Recorder:
    """Counts operations attempted and failed. A failed operation keeps
    its time in every total; it is only counted here as well."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.extra: dict[str, list[float]] = {}

    def attempt(self, tr, op: str, work, check) -> None:
        self.attempted += 1
        try:
            with tr.op(op):
                out = work()
            errs = check(out)
        except Exception:  # an operation that raises is a failed operation
            errs = [traceback.format_exc()]
        if errs:
            self.failed += 1
            print(f"# {tr.workload}/{op} FAILED:", *errs[:5], sep="\n  ",
                  file=sys.stderr)

    def note(self, name: str, value: float) -> None:
        self.extra.setdefault(name, []).append(value)


def _rows(df) -> list:
    return df.collect()


# ---------------------------------------------------------------------------
# profile
# ---------------------------------------------------------------------------

class Profile:
    """petk's own surface: Report → introduce / describe / validate, the
    sketch path, and a re-query of the same Reports (the memo path).

    Layout: each table is ONE parquet file with ONE row group, so
    ``describe.ensure_parallelism`` sees one split on an N-slot session
    and takes its repartition branch."""

    name = "profile"

    def __init__(self, spark, tr, rec, scratch: str, seed: int, size: str):
        self.spark, self.tr, self.rec = spark, tr, rec
        self.scratch, self.seed, self.size = scratch, seed, size

    def setup(self, root: str) -> None:
        self.inputs = gen.profile_inputs(root, self.seed, self.size)
        self.truth = self.inputs["truth"]

    def run_pass(self, i: int) -> None:
        from petk_spark.geo.introduce_geo import introduce_geo_frame
        from petk_spark.operators.describe import describe_frame
        from petk_spark.operators.grouped import equidepth_histogram
        from petk_spark.operators.incremental import (
            finalize_profile, merge_partials, partial_profile,
        )
        from petk_spark.report import Report
        from petk_spark.sources import readers, sinks

        tr, rec, truth = self.tr, self.rec, self.truth
        tables = list(self.inputs["paths"])
        reps: dict = {}
        first: dict = {}

        def open_reports():
            for t in tables:
                df = tr.call("sources", "read_parquet", readers.read_parquet,
                             self.spark, self.inputs["paths"][t])
                schema, key = gen.SCHEMAS[t]
                reps[t] = tr.call("report", "Report", Report, df, schema, key)
            return reps

        rec.attempt(tr, "open", open_reports,
                    lambda r: checks.equal("reports", sorted(r), sorted(tables)))

        def introduce():
            out = {}
            f = tr.call("introduce", "Report.introduce", reps["lineitem"].introduce)
            out["lineitem"] = tr.consume("introduce", "Report.introduce", _rows, f)
            g = tr.call("geo", "introduce_geo_frame", introduce_geo_frame,
                        reps["geo"].df, "geometry")
            out["geo:types"] = tr.consume("geo", "introduce_geo_frame", _rows, g)
            return out

        def check_introduce(out):
            basic = {r["metric"]: r["value_num"] for r in out["lineitem"]
                     if r["section"] == "basic"}
            errs = checks.introduce(basic, truth["lineitem"])
            types = {r["metric"]: r["value_num"] for r in out["geo:types"]
                     if r["metric"] in ("points", "polygons")}
            return errs + checks.counts("geo types", types, truth["geo"]["types"])

        rec.attempt(tr, "introduce", introduce, check_introduce)

        def describe():
            f = tr.call("describe", "Report.describe", reps["lineitem"].describe)
            return tr.consume("describe", "Report.describe", _rows, f)

        def check_describe(out):
            first["describe"] = out
            got = {(r["column"], r["statistic"]): r["value_num"] for r in out}
            return checks.describe(got, truth["lineitem"]["describe"])

        rec.attempt(tr, "describe", describe, check_describe)

        violations = os.path.join(self.scratch, f"violations-{i}")

        def validate():
            out = {}
            for t in tables:
                layer = "geo" if t == "geo" else "validate"
                v = tr.call(layer, "Report.validate", reps[t].validate)
                out[t] = tr.consume(layer, "Report.validate", _rows, v)
            vv = tr.call("validate", "Report.validate", reps["lineitem"].validate,
                         verbose=True)
            tr.consume("sources", "write_violations", sinks.write_violations,
                       vv, violations)
            return out

        def check_validate(out):
            first["validate"] = out
            errs = []
            for t in tables:
                got: dict = {}
                for r in out[t]:
                    k = f"{r['column']}:{r['function']}"
                    got[k] = got.get(k, 0) + 1
                errs += checks.counts(f"{t} violations", got,
                                      truth[t]["violations"])
            written = self.spark.read.parquet(violations).count()
            errs += checks.equal("lineitem verbose rows written", written,
                                 sum(truth["lineitem"]["violations"].values()))
            shutil.rmtree(violations, ignore_errors=True)
            return errs

        rec.attempt(tr, "validate", validate, check_validate)

        def sketch():
            li = reps["lineitem"].df
            d = tr.call("describe", "describe_frame", describe_frame, li,
                        SKETCH_COLUMNS, exact=False)
            approx = tr.consume("describe", "describe_frame", _rows, d)
            h = tr.call("grouped", "equidepth_histogram", equidepth_histogram,
                        li, "l_extendedprice", 10)
            hist = tr.consume("grouped", "equidepth_histogram", _rows, h)
            parts = [
                tr.call("incremental", "partial_profile", partial_profile,
                        li.filter(F.col("l_linenumber") % 2 == k),
                        ["l_quantity", "l_returnflag"])
                for k in (0, 1)
            ]
            m = tr.call("incremental", "merge_partials", merge_partials, *parts)
            f = tr.call("incremental", "finalize_profile", finalize_profile, m)
            final = tr.consume("incremental", "finalize_profile", _rows, f)
            return approx, hist, final

        def check_sketch(out):
            approx, hist, final = out
            li = truth["lineitem"]["describe"]
            got = {(r["column"], r["statistic"]): r["value_num"] for r in approx}
            errs = checks.describe(got, {c: li[c] for c in SKETCH_COLUMNS})
            price = li["l_extendedprice"]
            errs += checks.histogram(
                [(r["bucket"], r["edge_lo"], r["edge_hi"], r["n"]) for r in hist],
                int(price["count"]), price["min"], price["max"], 10)
            row = next((r.asDict() for r in final
                        if r["column"] == "l_quantity"), {})
            want = li["l_quantity"]
            errs += checks.moments("finalize_profile l_quantity", row, {
                "n": want["count"], "n_null": want["n_null"],
                "min": want["min"], "max": want["max"], "mean": want["mean"],
            })
            return errs

        rec.attempt(tr, "sketch", sketch, check_sketch)

        def requery():
            rep = reps["lineitem"]
            f = tr.call("report", "Report.describe", rep.describe)
            v = tr.call("report", "Report.validate", rep.validate)
            return (tr.consume("report", "Report.describe", _rows, f),
                    tr.consume("report", "Report.validate", _rows, v))

        def check_requery(out):
            d, v = out
            return (checks.equal("describe re-query", sorted(map(tuple, d)),
                                 sorted(map(tuple, first["describe"])))
                    + checks.equal("validate re-query", sorted(map(tuple, v)),
                                   sorted(map(tuple, first["validate"]["lineitem"]))))

        rec.attempt(tr, "requery", requery, check_requery)
        for rep in reps.values():
            rep.unpersist()


# ---------------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------------

class Corpus:
    """Stage of ``pipeline``. The LLM-data steps: clean, dedup, kNN and
    media over seeded documents, embeddings and payloads. The IVF index
    is built during set-up, so work moved into the index build shows in
    ``setup_s``.

    Layout: docs, vectors and media are one parquet file each; the IVF
    index is one directory per centroid cell."""

    def __init__(self, spark, tr, rec, scratch: str, seed: int, size: str):
        self.spark, self.tr, self.rec = spark, tr, rec
        self.scratch, self.seed, self.size = scratch, seed, size

    def setup(self, root: str) -> None:
        from petk_spark.operators.similarity import build_ivf_index
        from petk_spark.sources import readers

        tr = self.tr
        self.inputs = gen.corpus_inputs(root, self.seed, self.size)
        self.truth = self.inputs["truth"]
        p = self.inputs["paths"]
        self.docs = tr.call("sources", "read_parquet", readers.read_parquet,
                            self.spark, p["docs"])
        self.vecs = tr.call("sources", "read_parquet", readers.read_parquet,
                            self.spark, p["vectors"])
        self.media = tr.call("sources", "read_parquet", readers.read_parquet,
                             self.spark, p["media"])
        self.queries = self.vecs.filter(F.col("vec_id").isin(self.truth["queries"]))
        self.ivf = os.path.join(root, "ivf")
        tr.call("similarity", "build_ivf_index", build_ivf_index,
                self.vecs, self.ivf, n_centroids=8)

    def run_pass(self, i: int) -> None:
        from petk_spark.operators.components import near_dup_clusters
        from petk_spark.operators.dedup import (
            duplicate_report, minhash_lsh_near_dup, semantic_dedup,
        )
        from petk_spark.operators.multimodal import media_features_auto
        from petk_spark.operators.pii import redact_pii
        from petk_spark.operators.similarity import cosine_topk, query_ivf_index
        from petk_spark.operators.text import (
            canonicalize_text_frame, document_signals_frame,
        )

        tr, rec, truth, docs = self.tr, self.rec, self.truth, self.docs

        def clean():
            c = tr.call("text", "canonicalize_text_frame", canonicalize_text_frame,
                        docs, "text", out_col="canon")
            changed = tr.consume("text", "canonicalize_text_frame",
                                 lambda: c.filter(F.col("canon") != F.col("text")).count())
            s = tr.call("text", "document_signals_frame", document_signals_frame,
                        docs, "doc_id", "text")
            signals = tr.consume("text", "document_signals_frame", _rows, s)
            r = tr.call("pii", "redact_pii", redact_pii, docs, "text", out_col="redacted")
            n_pii = tr.consume("pii", "redact_pii", lambda: r.select(F.sum(
                F.regexp_count("redacted", F.lit(PII_PLACEHOLDER)))).first()[0])
            return changed, signals, n_pii

        def check_clean(out):
            changed, signals, n_pii = out
            return (checks.equal("canonicalized rows", changed, truth["canon_changed"])
                    + checks.equal("signal rows", len({r["id"] for r in signals}),
                                   truth["docs"])
                    + checks.equal("redacted PII", n_pii, truth["pii"]))

        rec.attempt(tr, "clean", clean, check_clean)

        def dedup():
            d = tr.call("dedup", "duplicate_report", duplicate_report, docs, ["text"])
            groups = tr.consume("dedup", "duplicate_report", _rows, d)
            pairs = tr.call("dedup", "minhash_lsh_near_dup", minhash_lsh_near_dup,
                            docs, "doc_id", "text")
            cl = tr.call("components", "near_dup_clusters", near_dup_clusters,
                         docs, pairs, "doc_id")
            clusters = tr.consume("components", "near_dup_clusters", _rows, cl)
            sd = tr.call("dedup", "semantic_dedup", semantic_dedup,
                         self.vecs, "vec_id", "embedding")
            kept = tr.consume("dedup", "semantic_dedup",
                              lambda: sd.select("vec_id").collect())
            return groups, clusters, kept

        def check_dedup(out):
            groups, clusters, kept = out
            errs = checks.equal("exact duplicate groups", len(groups),
                                truth["dup_groups"])
            recall = checks.pair_recall(
                {r["id"]: r["cluster_id"] for r in clusters}, truth["near_pairs"])
            rec.note("dedup.planted_recall", recall)
            errs += checks.at_least("near-dup recall", recall, NEAR_DUP_RECALL_FLOOR)
            dropped = set(range(truth["vectors"])) - {r["vec_id"] for r in kept}
            sem_errs, _ = checks.semantic(dropped, truth["semantic_dropped"],
                                          SEMANTIC_RECALL_FLOOR)
            return errs + sem_errs

        rec.attempt(tr, "dedup", dedup, check_dedup)

        def knn():
            e = tr.call("similarity", "cosine_topk", cosine_topk,
                        self.vecs, self.queries, k=10)
            exact = tr.consume("similarity", "cosine_topk", _rows, e)
            a = tr.call("similarity", "query_ivf_index", query_ivf_index,
                        self.spark, self.ivf, self.queries, k=10, n_probes=2)
            return exact, tr.consume("similarity", "query_ivf_index", _rows, a)

        def check_knn(out):
            exact, approx = out
            want = truth["topk"]
            recall = checks.recall_at_k(_by_query(approx), want)
            rec.note("similarity.recall_at_10", recall)
            return (checks.topk(_by_query(exact), want)
                    + checks.at_least("IVF recall@10", recall, IVF_RECALL_FLOOR))

        rec.attempt(tr, "knn", knn, check_knn)

        def media():
            m = tr.call("multimodal", "media_features_auto", media_features_auto,
                        self.media, "media_id", "payload")
            return tr.consume("multimodal", "media_features_auto", _rows, m)

        def check_media(rows):
            got = {r["id"]: (r["mime"], r["valid"], r["width"], r["height"])
                   for r in rows}
            return checks.media(got, truth["media"])

        rec.attempt(tr, "media", media, check_media)
        self.spark.catalog.clearCache()


def _by_query(rows) -> dict:
    out: dict = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(r["query_id"], []).append(r["neighbor_id"])
    return out


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------

class Ingest:
    """Stage of ``pipeline``. Writes beside reads: seeded micro-batch
    files drained with an ``availableNow`` trigger (one file per
    micro-batch) through the streaming partial store and the streaming
    seen-store ingest, then the store is compacted and read back.

    Layout: the landing directory holds one parquet file per
    micro-batch; the partial store holds one directory per batch until
    compaction folds them."""

    def __init__(self, spark, tr, rec, scratch: str, seed: int, size: str):
        self.spark, self.tr, self.rec = spark, tr, rec
        self.scratch, self.seed, self.size = scratch, seed, size

    def setup(self, root: str) -> None:
        from petk_spark.sources import readers

        self.inputs = gen.ingest_inputs(root, self.seed, self.size)
        self.truth = self.inputs["truth"]
        self.seed_docs = self.tr.call("sources", "read_parquet",
                                      readers.read_parquet, self.spark,
                                      self.inputs["paths"]["seed"])

    def _drain(self, writer, ckpt: str) -> list[float]:
        """Run a stream to the end of the landed files; return each
        micro-batch's triggerExecution time in seconds."""
        q = (writer.option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        try:
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            return [p["durationMs"]["triggerExecution"] / 1e3
                    for p in q.recentProgress if p["numInputRows"] > 0]
        finally:
            q.stop()

    def run_pass(self, i: int) -> None:
        from petk_spark.operators.dedup import build_seen_store, maybe_compact_seen_store
        from petk_spark.streaming.profile import (
            compact_store, profile_from_store, streaming_partial_store,
            streaming_seen_store_ingest,
        )

        tr, rec, truth, spark = self.tr, self.rec, self.truth, self.spark
        d = os.path.join(self.scratch, f"ingest-{i}")
        store, out = os.path.join(d, "store"), os.path.join(d, "landed")
        table = f"seen_{i}"
        n_buckets = 8

        def source():
            return (spark.readStream.schema(gen.INGEST_SCHEMA)
                    .option("maxFilesPerTrigger", 1)
                    .parquet(self.inputs["paths"]["landing"]))

        def stream_profile():
            w = tr.call("streaming", "streaming_partial_store",
                        streaming_partial_store, source(), store,
                        columns=["event_type", "value"], compact_every=2,
                        keep_recent=1)
            return tr.consume("streaming", "streaming_partial_store",
                              self._drain, w, os.path.join(d, "ck-profile"))

        def check_batches(times):
            rec.extra.setdefault("streaming.batch_s", []).extend(times)
            return checks.equal("micro-batches", len(times), truth["batches"])

        rec.attempt(tr, "stream_profile", stream_profile, check_batches)

        def stream_dedup():
            tr.call("dedup", "build_seen_store", build_seen_store, self.seed_docs,
                    "event_id", "text", table, n_buckets=n_buckets,
                    path=os.path.join(d, "seen"))
            w = tr.call("streaming", "streaming_seen_store_ingest",
                        streaming_seen_store_ingest, source(), "event_id", "text",
                        table, out, n_buckets=n_buckets, compact_every=2)
            return tr.consume("streaming", "streaming_seen_store_ingest",
                              self._drain, w, os.path.join(d, "ck-dedup"))

        def check_dedup(times):
            errs = check_batches(times)
            landed = spark.read.parquet(out).count()
            dropped = truth["sent"] - landed
            errs += checks.equal("landed + dropped == sent, dropped",
                                 dropped, truth["dropped"])
            return errs

        rec.attempt(tr, "stream_dedup", stream_dedup, check_dedup)

        before: dict = {}

        def store_ops():
            p = tr.call("streaming", "profile_from_store", profile_from_store,
                        spark, store)
            before["rows"] = tr.consume("streaming", "profile_from_store", _rows, p)
            folded = tr.call("streaming", "compact_store", compact_store, spark, store)
            health = tr.call("dedup", "maybe_compact_seen_store",
                             maybe_compact_seen_store, spark, table,
                             n_buckets=n_buckets)
            p = tr.call("streaming", "profile_from_store", profile_from_store,
                        spark, store)
            after = tr.consume("streaming", "profile_from_store", _rows, p)
            return folded, health, after

        def check_store(out_):
            folded, health, after = out_
            errs = _check_store_profile("before compaction", before["rows"],
                                        truth["value"])
            errs += _check_store_profile("after compaction", after, truth["value"])
            dirs = [x for x in os.listdir(store) if x.startswith("batch_id=")]
            rec.note("streaming.store_dirs", len(dirs))
            errs += checks.equal("store dirs after compaction", len(dirs), 1)
            if folded < 1:
                errs.append(f"compact_store folded {folded} directories")
            landed = truth["sent"] - truth["dropped"]
            errs += checks.equal("seen store rows", health["total_rows"],
                                 truth["seed_docs"] + landed)
            return errs

        rec.attempt(tr, "store", store_ops, check_store)
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(d, ignore_errors=True)


def _check_store_profile(what: str, rows, want: dict) -> list[str]:
    row = next((r.asDict() for r in rows if r["column"] == "value"), {})
    return checks.moments(f"profile_from_store {what}", row, want)


class Pipeline:
    """The LLM-data pipeline end to end: the corpus stage (clean, dedup,
    kNN and media), then the ingest stage (micro-batch
    streams into the partial store and the seen store, compaction)."""

    name = "pipeline"

    def __init__(self, spark, tr, rec, scratch: str, seed: int, size: str):
        self.stages = [Corpus(spark, tr, rec, scratch, seed, size),
                       Ingest(spark, tr, rec, scratch, seed, size)]

    def setup(self, root: str) -> None:
        for k, stage in enumerate(self.stages):
            sub = os.path.join(root, str(k))
            os.makedirs(sub)
            stage.setup(sub)
        self.truth = {**self.stages[0].truth, **self.stages[1].truth}

    def run_pass(self, i: int) -> None:
        for stage in self.stages:
            stage.run_pass(i)


WORKLOADS = {"profile": Profile, "pipeline": Pipeline}

#: The operations with an op.<name>_s per-layer metric (0 on the
#: workload that does not run it): all but the sub-second ``open`` and
#: the ``stream_profile`` drain, whose time is in
#: ``streaming.events_per_s``. That keeps the per-layer list within its
#: 128 names.
OPS = ["introduce", "describe", "validate", "sketch", "requery",
       "clean", "dedup", "knn", "media", "stream_dedup", "store"]
