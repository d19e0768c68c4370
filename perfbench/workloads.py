"""The two workloads: each prepares the program once per session, warms it
up, runs timed iterations through the engine's public API and checks every
iteration's output against an expectation computed without the engine."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from inputs import COMPACT_EVERY, CRAWL_BUDGET, archive_inputs, crawl_inputs, fingerprint
from spans import RecordingStore, Tracer, dur, wrap_merge_blob_map
from warc_spark.operators.frontier import FrontierConfig, FrontierEngine
from warc_spark.plans.snapstore import SnapStore
from warc_spark.sources import cdx_records, read_warc, write_cdx, write_warc
from warc_spark.sources.pages import pages_from_records


class OutputMismatch(Exception):
    """An iteration completed but its output differs from the expectation."""


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


class CrawlPolite:
    """The CLI ``crawl`` defaults on the synthetic Zipf corpus: fixed
    per-batch cost (Spark jobs, parquet commits, the driver blob merge,
    compaction) dominates, while a deferred frontier several times the
    batch passes the politeness gate every batch."""

    name = "crawl_polite"
    # nominal iteration time on a 4-core host; sets the timed iteration
    # count from --seconds (run.timed_iterations)
    nominal_s = 20.0

    def __init__(self, work: str, seed: int, scale: str, corrupt: bool):
        self.meta = crawl_inputs(work, seed, scale, corrupt)
        self.expected = dict(self.meta["expected"])
        self.runs = os.path.join(work, "runs")
        self.pages = None

    def config(self, batches: int) -> FrontierConfig:
        return FrontierConfig(
            max_batches=batches, default_budget=CRAWL_BUDGET,
            bloom_buckets=64, bloom_bits=1 << 21, seen_compact_every=COMPACT_EVERY,
        )

    def _store(self, tag: str, tracer: Tracer) -> RecordingStore:
        root = os.path.join(self.runs, tag)
        shutil.rmtree(root, ignore_errors=True)
        return RecordingStore(root, tracer)

    def prepare(self, spark, tracer: Tracer) -> None:
        """Program-side set-up: the engine's pages layout (partitioned and
        sorted by url), cached and materialized."""
        with tracer.span("operators.frontier.init"):
            eng = FrontierEngine(
                spark, spark.read.parquet(self.meta["pages"]),
                SnapStore(os.path.join(self.runs, "init")),
                config=self.config(self.meta["batches"]),
            )
            eng.pages.count()
        self.pages = eng.pages

    def _engine(self, spark, store, batches: int) -> FrontierEngine:
        return FrontierEngine(
            spark, self.pages, store, config=self.config(batches),
            pages_prepared=True,
        )

    def warmup(self, spark) -> None:
        """One batch over the same corpus: starts the Python workers and
        runs the per-batch code path once."""
        store = self._store("warmup", Tracer())
        self._engine(spark, store, 1).run(spark.read.parquet(self.meta["seeds"]))
        shutil.rmtree(store.root)

    def iterate(self, spark, tracer: Tracer, k: int) -> dict:
        store = self._store(f"iter-{k}", tracer)
        tracer.enter_batch(0)
        with tracer.span("iteration", tag_jobs=False) as it:
            eng = self._engine(spark, store, self.meta["batches"])
            wrap_merge_blob_map(eng.bloom, tracer)
            manifests = eng.run(spark.read.parquet(self.meta["seeds"]))
        it["idle_groups"] = dict(tracer.idle_groups)
        calls = [s for s in tracer.children(it) if s["batch"] is not None]
        sched = sum(s["rows"] for s in calls if s["name"].endswith(".scheduled"))
        front = sum(s["rows"] for s in calls if s["name"].endswith(".frontier"))
        edges = [it["start"]] + store.commit_times
        ingest_s, export_s = self._phase_times(calls, edges)
        out = {
            "span": it,
            "wall_s": dur(it),
            "items": sched,
            "intervals": [b - a for a, b in zip(edges, edges[1:])],
            "ingest_records_per_s": sched / ingest_s,
            "export_records_per_s": front / export_s,
            "output_bytes": dir_bytes(store.root),
        }
        with tracer.span("check"):
            self._check(spark, store, manifests)
        shutil.rmtree(store.root)
        return out

    @staticmethod
    def _phase_times(calls: list[dict], edges: list[float]) -> tuple[float, float]:
        """Summed over batches: the scheduling phase, from the batch's start
        (the previous commit's return) to the scheduled write's return, and
        the frontier phase, from the return of the store write before the
        frontier write (the seen build) to the frontier write's return. Each
        phase is a span of the batch's wall time, so work moved between the
        writes and the jobs around them cannot change a rate."""
        ingest = export = 0.0
        for b, start in enumerate(edges[:-1]):
            writes = sorted((s for s in calls if s["batch"] == b
                             and s["name"].startswith("plans.snapstore.write_df.")),
                            key=lambda s: s["end"])
            names = [s["name"].rsplit(".", 1)[1] for s in writes]
            sched = writes[names.index("scheduled")]
            k = names.index("frontier")
            ingest += sched["end"] - start
            export += writes[k]["end"] - (writes[k - 1]["end"] if k else start)
        return ingest, export

    def _check(self, spark, store, manifests) -> None:
        exp = self.expected
        rows = store.read_all_scheduled(spark, len(manifests) - 1).select(
            "batch", "url").collect()
        got = {
            "batches": len(manifests),
            "scheduled": len(rows),
            "frontier_after": manifests[-1]["metrics"]["frontier_after"],
            "fingerprint": fingerprint(f"{r.batch}\t{r.url}" for r in rows),
        }
        if got != exp:
            raise OutputMismatch(f"crawl differs from the oracle: {got} != {exp}")

    def batch_spans(self, tracer: Tracer, it: dict) -> dict[int, tuple[float, float]]:
        """Batch k runs from the end of batch k-1 to its last store call;
        the last batch runs to the end of ``run``."""
        calls = [s for s in tracer.children(it) if s["batch"] is not None]
        ends: dict[int, float] = {}
        for s in calls:
            ends[s["batch"]] = max(ends.get(s["batch"], 0.0), s["end"])
        out, start = {}, it["start"]
        for b in sorted(ends):
            out[b] = (start, ends[b])
            start = ends[b]
        last = max(out)
        out[last] = (out[last][0], it["end"])
        return out


class ArchiveRoundtrip:
    """gz WARC segments through ingest (the CLI ``ingest`` path), rewrite and
    CDX export: inflate/deflate, record framing, HTTP split and HTML text.
    The frontier and snapshot store do no work here."""

    name = "archive_roundtrip"
    nominal_s = 10.0
    STAGES = ("sources.pages_from_records", "sources.write_warc", "sources.cdx")

    def __init__(self, work: str, seed: int, scale: str, corrupt: bool):
        self.meta = archive_inputs(work, seed, scale, corrupt)
        self.expected = dict(self.meta["expected"])
        self.runs = os.path.join(work, "runs")

    def prepare(self, spark, tracer: Tracer) -> None:
        """The archive path keeps no state; its set-up is the session's lazy
        part: the first scan (one segment to a ``noop`` sink) starts the
        Python workers and imports the WARC kernels in them."""
        with tracer.span("sources.first_scan"):
            first = os.path.join(self.meta["warmup"], sorted(os.listdir(self.meta["warmup"]))[0])
            read_warc(spark, first).write.format("noop").mode("overwrite").save()

    def warmup(self, spark) -> None:
        """One round trip over a copy of the segments."""
        self._roundtrip(spark, Tracer(), self.meta["warmup"], "warmup")

    def _roundtrip(self, spark, tracer: Tracer, segments: str, tag: str):
        out = os.path.join(self.runs, tag)
        shutil.rmtree(out, ignore_errors=True)
        ingest, rewrite, cdx = self.STAGES
        with tracer.span("iteration", tag_jobs=False) as it:
            with tracer.span(ingest):
                pages_from_records(
                    read_warc(spark, segments), extractor="html"
                ).write.mode("overwrite").parquet(os.path.join(out, "pages"))
            with tracer.span(rewrite):
                manifest = write_warc(
                    read_warc(spark, segments), os.path.join(out, "warc")
                ).collect()
            with tracer.span(cdx):
                write_cdx(cdx_records(read_warc(spark, segments)),
                          os.path.join(out, "cdx"))
        return it, out, manifest

    def iterate(self, spark, tracer: Tracer, k: int) -> dict:
        it, out, manifest = self._roundtrip(
            spark, tracer, self.meta["segments"], f"iter-{k}")
        stage = {s["name"]: dur(s) for s in tracer.children(it)}
        n = self.expected["records"]
        ingest, rewrite, cdx = (stage[s] for s in self.STAGES)
        result = {
            "span": it,
            "wall_s": dur(it),
            "items": n,
            "intervals": [ingest, rewrite, cdx],
            "ingest_records_per_s": n / ingest,
            "export_records_per_s": n / (rewrite + cdx),
            "output_bytes": dir_bytes(out),
        }
        with tracer.span("check"):
            self._check(spark, out, manifest)
        shutil.rmtree(out)
        return result

    def _check(self, spark, out: str, manifest) -> None:
        n = self.expected["records"]
        recs = read_warc(spark, os.path.join(out, "warc")).select(
            "record_id", F.sha1("payload").alias("sha1")).collect()
        got = {
            "pages": spark.read.parquet(os.path.join(out, "pages")).count(),
            "warc_out": sum(m.records for m in manifest),
            "warc_reread": len(recs),
            "cdx": spark.read.text(os.path.join(out, "cdx")).count(),
        }
        if set(got.values()) != {n}:
            raise OutputMismatch(f"record counts differ from {n} in: {got}")
        fp = fingerprint(f"{r.record_id}\t{r.sha1}" for r in recs)
        if fp != self.expected["fingerprint"]:
            raise OutputMismatch("rewritten WARC (record_id, payload) multiset differs")

    def scan(self, spark, tracer: Tracer) -> dict:
        """The scan alone, through a ``noop`` sink (traced run only)."""
        with tracer.span("sources.read_warc") as rec:
            read_warc(spark, self.meta["segments"]).write.format("noop").mode(
                "overwrite").save()
        return rec


WORKLOADS = {w.name: w for w in (CrawlPolite, ArchiveRoundtrip)}


