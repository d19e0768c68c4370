"""Frontier engine vs the single-process oracle simulator: crawl ordering,
URL-seen set, robots/politeness semantics, checkpoint/exact-resume."""

from contextlib import contextmanager

import numpy as np
import pytest
from pyspark.sql import functions as F

from oracle_sim import simulate_crawl
from warc_spark.operators.frontier import FrontierConfig, FrontierEngine
from warc_spark.operators.robots import ROBOTS_SCHEMA
from warc_spark.plans.snapstore import SnapStore
from warc_spark.sources.pages import gen_pages_pdf, synth_pages, synth_seeds

N_PAGES = 400
N_HOSTS = 8
SEED = 42


@pytest.fixture(scope="module")
def pages_pdf():
    return gen_pages_pdf(np.arange(N_PAGES, dtype=np.uint64), N_PAGES, N_HOSTS, SEED)


@pytest.fixture(scope="module")
def pages_df(spark):
    return synth_pages(spark, N_PAGES, seed=SEED, n_hosts=N_HOSTS)


@pytest.fixture(scope="module")
def seeds_df(spark):
    return synth_seeds(spark, N_PAGES, n_seeds=12, seed=SEED, n_hosts=N_HOSTS)


def seeds_list(seeds_df):
    return [(r.url, r.priority) for r in seeds_df.collect()]


ROBOTS_RULES = {
    "host0.example.org": ["/page/1"],   # blocks /page/1*
    "host2.example.org": ["/"],         # blocks everything
}
BUDGETS = {"host0.example.org": 2, "host1.example.org": 3}


def make_robots_df(spark):
    rows = [(h, p, 1.0) for h, p in ROBOTS_RULES.items()]
    return spark.createDataFrame(rows, ROBOTS_SCHEMA)


def make_budgets_df(spark):
    return spark.createDataFrame(
        [(h, k) for h, k in BUDGETS.items()], "host string, max_fetches_per_batch int"
    )


def collect_batches(store, spark, n):
    """Crawl order is data: (priority desc, url) within each batch."""
    out = []
    for k in range(n):
        rows = (
            store.read_df(spark, k, "scheduled")
            .select("url", "priority")
            .orderBy(F.desc("priority"), "url")
            .collect()
        )
        out.append([(r.url, r.priority) for r in rows])
    return out


@contextmanager
def broadcast_threshold(spark, nbytes):
    """Spark's broadcast budget, which the engine sizes its membership
    placement (state bytes) and rescue plan (previous sliver bytes) by;
    -1 forces the table placement and the shuffled rescue. Engines must be
    built inside the block."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    if nbytes is not None:
        spark.conf.set(key, str(nbytes))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def plans_of(manifests, key):
    return {m["metrics"][key] for m in manifests}


def assert_sliver_is_dupes(manifests, sim, placement):
    """The manifest records the placement and the maybe-seen sliver. With
    the filter far from full (a few hundred urls) it has no false
    positives, so the sliver is exactly the emitted candidates already
    seen, which the simulator counts."""
    assert plans_of(manifests, "placement") == {placement}
    assert plans_of(manifests, "rescue") == {"broadcast"}
    dupes = [sm["dupes"] for sm in sim.metrics]
    assert [m["metrics"]["sliver_rows"] for m in manifests] == dupes
    assert sum(dupes) > 0


def run_engine(spark, pages_df, seeds_df, tmp_path, cfg=None, robots=None, budgets=None,
               resume=False, store=None):
    store = store or SnapStore(str(tmp_path / "snap"))
    eng = FrontierEngine(
        spark, pages_df, store,
        robots=robots, budgets=budgets,
        config=cfg or FrontierConfig(max_batches=5, default_budget=4),
    )
    manifests = eng.run(seeds_df, resume=resume)
    return store, manifests


class TestCrawlOracle:
    def test_matches_simulator_plain(self, spark, pages_df, pages_pdf, seeds_df, tmp_path):
        cfg = FrontierConfig(max_batches=4, default_budget=4)
        store, manifests = run_engine(spark, pages_df, seeds_df, tmp_path, cfg)
        sim = simulate_crawl(
            pages_pdf, seeds_list(seeds_df), default_budget=4, max_batches=4
        )
        assert len(manifests) == len(sim.batches)
        got = collect_batches(store, spark, len(manifests))
        for k, (g, s) in enumerate(zip(got, sim.batches)):
            assert g == s, f"batch {k} ordering mismatch"
        # final URL-seen set matches exactly
        seen = {
            r.url
            for r in store.read_all_scheduled(spark, len(manifests) - 1).collect()
        }
        assert seen == sim.seen

    def test_matches_simulator_with_robots_and_budgets(
        self, spark, pages_df, pages_pdf, seeds_df, tmp_path
    ):
        cfg = FrontierConfig(max_batches=4, default_budget=3)
        store, manifests = run_engine(
            spark, pages_df, seeds_df, tmp_path, cfg,
            robots=make_robots_df(spark), budgets=make_budgets_df(spark),
        )
        sim = simulate_crawl(
            pages_pdf, seeds_list(seeds_df),
            robots=ROBOTS_RULES, budgets=BUDGETS,
            default_budget=3, max_batches=4,
        )
        got = collect_batches(store, spark, len(manifests))
        assert len(got) == len(sim.batches)
        for k, (g, s) in enumerate(zip(got, sim.batches)):
            assert g == s, f"batch {k} ordering mismatch"
        # robots-blocked hosts never scheduled
        all_sched = store.read_all_scheduled(spark, len(manifests) - 1)
        assert all_sched.filter(F.col("host") == "host2.example.org").count() == 0
        # per-batch politeness budget respected
        per_host = (
            all_sched.groupBy("batch", "host").count().filter(F.col("count") > 3)
        )
        for r in per_host.collect():
            assert BUDGETS.get(r.host, 3) >= r["count"]

    def test_matches_simulator_with_wildcard_robots(
        self, spark, pages_df, pages_pdf, seeds_df, tmp_path
    ):
        """Allow + wildcard + $-anchor robots rules (v2 gate) vs the
        pure-Python longest-match twin inside the simulator."""
        from warc_spark.operators.robots import robots_rules_from_bodies

        body0 = "User-agent: *\nDisallow: /page/*\nAllow: /page/1\n"
        body3 = "User-agent: *\nDisallow: /*9$\n"
        robots_df = robots_rules_from_bodies(
            spark.createDataFrame(
                [("host0.example.org", body0), ("host3.example.org", body3)],
                "host string, body string",
            )
        )
        rules = {
            "host0.example.org": {"allow": ["/page/1"], "disallow": ["/page/*"]},
            "host3.example.org": {"disallow": ["/*9$"]},
        }
        cfg = FrontierConfig(max_batches=4, default_budget=4)
        store, manifests = run_engine(
            spark, pages_df, seeds_df, tmp_path, cfg, robots=robots_df
        )
        sim = simulate_crawl(
            pages_pdf, seeds_list(seeds_df), robots=rules,
            default_budget=4, max_batches=4,
        )
        got = collect_batches(store, spark, len(manifests))
        assert len(got) == len(sim.batches)
        for k, (g, s) in enumerate(zip(got, sim.batches)):
            assert g == s, f"batch {k} ordering mismatch"

    def test_metrics_match_simulator(self, spark, pages_df, pages_pdf, seeds_df, tmp_path):
        cfg = FrontierConfig(max_batches=3, default_budget=4)
        store, manifests = run_engine(spark, pages_df, seeds_df, tmp_path, cfg)
        sim = simulate_crawl(pages_pdf, seeds_list(seeds_df), default_budget=4, max_batches=3)
        for m, sm in zip(manifests, sim.metrics):
            for key in ("scheduled", "found", "missing", "frontier_after"):
                assert m["metrics"][key] == sm[key], (key, m["metrics"], sm)
        assert_sliver_is_dupes(manifests, sim, "map")

    def test_sliver_matches_simulator_dupes(
        self, spark, pages_df, pages_pdf, seeds_df, tmp_path
    ):
        """The same crawl and sliver on the table placement (1 MiB of
        bloom state over a 64 KiB broadcast budget)."""
        cfg = FrontierConfig(max_batches=3, default_budget=4,
                             bloom_buckets=8, bloom_bits=1 << 20)
        with broadcast_threshold(spark, 64 << 10):
            store, manifests = run_engine(spark, pages_df, seeds_df, tmp_path, cfg)
        sim = simulate_crawl(pages_pdf, seeds_list(seeds_df), default_budget=4, max_batches=3)
        assert collect_batches(store, spark, len(manifests)) == sim.batches
        assert_sliver_is_dupes(manifests, sim, "table")

    @pytest.mark.parametrize(
        "threshold,bits,placement", [(-1, 1 << 12, "table"), (8, 1 << 3, "map")],
        ids=["table", "map"],
    )
    def test_matches_simulator_shuffle_rescue(
        self, spark, pages_df, pages_pdf, seeds_df, tmp_path, threshold, bits, placement
    ):
        """The shuffled sliver rescue, on both placements: forced by a
        broadcast budget of -1 (table), or by an 8-byte bloom that
        saturates in batch 0, so that its sliver (every candidate) outgrows
        an 8-byte budget from then on (map)."""
        cfg = FrontierConfig(max_batches=4, default_budget=3,
                             bloom_buckets=8, bloom_bits=bits)
        with broadcast_threshold(spark, threshold):
            store, manifests = run_engine(
                spark, pages_df, seeds_df, tmp_path, cfg,
                robots=make_robots_df(spark), budgets=make_budgets_df(spark),
            )
        sim = simulate_crawl(
            pages_pdf, seeds_list(seeds_df),
            robots=ROBOTS_RULES, budgets=BUDGETS,
            default_budget=3, max_batches=4,
        )
        assert collect_batches(store, spark, len(manifests)) == sim.batches
        assert plans_of(manifests, "placement") == {placement}
        rescues = [m["metrics"]["rescue"] for m in manifests]
        assert len(rescues) == 4 and rescues[1:] == ["shuffle"] * 3, manifests
        seen = {r.url for r in store.read_all_scheduled(spark, 3).collect()}
        assert seen == {u for batch in sim.batches for u, _ in batch}


class TestResume:
    def test_exact_resume(self, spark, pages_df, pages_pdf, seeds_df, tmp_path):
        """Run 2 batches, stop, resume for 2 more — final state must equal an
        uninterrupted 4-batch run (exact-resume, north_rule)."""
        cfg2 = FrontierConfig(max_batches=2, default_budget=4)
        store, m1 = run_engine(spark, pages_df, seeds_df, tmp_path / "a", cfg2)
        assert store.latest() == len(m1) - 1
        cfg4 = FrontierConfig(max_batches=4, default_budget=4)
        eng = FrontierEngine(spark, pages_df, store, config=cfg4)
        m2 = eng.run(seeds_df, resume=True)
        assert [m["snapshot"] for m in m2] == [2, 3]

        ref_store, _ = run_engine(spark, pages_df, seeds_df, tmp_path / "b", cfg4)
        got = collect_batches(store, spark, 4)
        ref = collect_batches(ref_store, spark, 4)
        assert got == ref
        seen_a = {r.url for r in store.read_all_scheduled(spark, 3).collect()}
        seen_b = {r.url for r in ref_store.read_all_scheduled(spark, 3).collect()}
        assert seen_a == seen_b

    def test_manifest_lineage(self, spark, pages_df, seeds_df, tmp_path):
        store, manifests = run_engine(
            spark, pages_df, seeds_df, tmp_path,
            FrontierConfig(max_batches=2, default_budget=4),
        )
        for m in manifests:
            sched = m["tables"]["scheduled"]
            assert sched["rows"] == sum(p["rows"] for p in sched["partitions"])
            assert m["metrics"]["urls_per_sec"] is not None
            assert "bloom" in m["tables"]


class TestBloomPath:
    def test_bloom_equals_exact(self, spark, pages_df, pages_pdf, seeds_df, tmp_path):
        """Bloom-prefiltered run must match the pure exact-anti-join run
        batch-for-batch (no false drops — the ⊇-safety property)."""
        cfg_b = FrontierConfig(max_batches=3, default_budget=4, use_bloom=True,
                               bloom_buckets=8, bloom_bits=1 << 12)
        cfg_e = FrontierConfig(max_batches=3, default_budget=4, use_bloom=False)
        store_b, mb = run_engine(spark, pages_df, seeds_df, tmp_path / "bloom", cfg_b)
        store_e, me = run_engine(spark, pages_df, seeds_df, tmp_path / "exact", cfg_e)
        assert len(mb) == len(me)
        assert collect_batches(store_b, spark, len(mb)) == collect_batches(
            store_e, spark, len(me)
        )


class TestUrlBucketKeyFrontier:
    def test_url_bucket_key_equals_exact(self, spark, pages_df, seeds_df, tmp_path):
        """bloom_bucket_key="url" (the adversarial-host-skew layout) must
        reproduce the exact-path crawl batch-for-batch."""
        cfg_u = FrontierConfig(max_batches=3, default_budget=4, use_bloom=True,
                               bloom_bucket_key="url",
                               bloom_buckets=8, bloom_bits=1 << 12)
        cfg_e = FrontierConfig(max_batches=3, default_budget=4, use_bloom=False)
        store_u, mu = run_engine(spark, pages_df, seeds_df, tmp_path / "u", cfg_u)
        store_e, me = run_engine(spark, pages_df, seeds_df, tmp_path / "e", cfg_e)
        assert len(mu) == len(me)
        assert collect_batches(store_u, spark, len(mu)) == collect_batches(
            store_e, spark, len(me)
        )

    def test_resume_rejects_mismatched_bucket_key(
        self, spark, pages_df, seeds_df, tmp_path
    ):
        store, _ = run_engine(
            spark, pages_df, seeds_df, tmp_path,
            FrontierConfig(max_batches=2, default_budget=4, use_bloom=True,
                           bloom_bucket_key="url",
                           bloom_buckets=8, bloom_bits=1 << 12),
        )
        eng = FrontierEngine(
            spark, pages_df, store,
            config=FrontierConfig(max_batches=4, default_budget=4, use_bloom=True,
                                  bloom_bucket_key="host",
                                  bloom_buckets=8, bloom_bits=1 << 12),
        )
        with pytest.raises(ValueError, match="bloom_bucket_key"):
            eng.run(seeds_df, resume=True)


class TestDistributedProbe:
    """The at-scale membership placement: blob state as a distributed
    table, updated and probed by one cogroup on bucket — the driver never
    holds blob bytes. The engine picks it when the state outgrows Spark's
    broadcast budget, so these tests shrink the budget."""

    def test_distributed_equals_exact(self, spark, pages_df, seeds_df, tmp_path):
        cfg_d = FrontierConfig(max_batches=3, default_budget=4, use_bloom=True,
                               bloom_buckets=8, bloom_bits=1 << 12)
        cfg_e = FrontierConfig(max_batches=3, default_budget=4, use_bloom=False)
        with broadcast_threshold(spark, 1 << 10):  # 4 KiB of state
            store_d, md = run_engine(spark, pages_df, seeds_df, tmp_path / "dist", cfg_d)
        store_e, me = run_engine(spark, pages_df, seeds_df, tmp_path / "exact", cfg_e)
        assert len(md) == len(me)
        assert collect_batches(store_d, spark, len(md)) == collect_batches(
            store_e, spark, len(me)
        )
        seen_d = {r.url for r in store_d.read_all_scheduled(spark, len(md) - 1).collect()}
        seen_e = {r.url for r in store_e.read_all_scheduled(spark, len(me) - 1).collect()}
        assert seen_d == seen_e
        assert plans_of(md, "placement") == {"table"}
        # the state table is checkpointed whole every batch
        for m in md:
            assert "bloom_state" in m["tables"] and "bloom" not in m["tables"]

    def test_distributed_resume(self, spark, pages_df, seeds_df, tmp_path):
        cfg = dict(default_budget=4, use_bloom=True,
                   bloom_buckets=8, bloom_bits=1 << 12)
        with broadcast_threshold(spark, -1):
            store, m1 = run_engine(
                spark, pages_df, seeds_df, tmp_path / "a", FrontierConfig(max_batches=2, **cfg)
            )
            eng = FrontierEngine(
                spark, pages_df, store, config=FrontierConfig(max_batches=4, **cfg)
            )
            m2 = eng.run(seeds_df, resume=True)
        assert [m["snapshot"] for m in m2] == [2, 3]
        assert plans_of(m1 + m2, "placement") == {"table"}
        ref_store, _ = run_engine(
            spark, pages_df, seeds_df, tmp_path / "b", FrontierConfig(max_batches=4, **cfg)
        )
        assert collect_batches(store, spark, 4) == collect_batches(ref_store, spark, 4)

    def test_resume_rebuilds_when_store_has_no_bloom(
        self, spark, pages_df, seeds_df, tmp_path
    ):
        """A store written with use_bloom=False resumed with use_bloom=True
        must not crash (ADVICE r1) — membership is rebuilt from the seen
        log, on either placement, and the crawl ordering is unchanged."""
        ref_store, _ = run_engine(
            spark, pages_df, seeds_df, tmp_path / "ref",
            FrontierConfig(max_batches=4, default_budget=4, use_bloom=False),
        )
        ref = collect_batches(ref_store, spark, 4)
        for threshold in (None, -1):
            store, _ = run_engine(
                spark, pages_df, seeds_df, tmp_path / f"m{threshold}",
                FrontierConfig(max_batches=2, default_budget=4, use_bloom=False),
            )
            with broadcast_threshold(spark, threshold):
                eng = FrontierEngine(
                    spark, pages_df, store,
                    config=FrontierConfig(
                        max_batches=4, default_budget=4, use_bloom=True,
                        bloom_buckets=8, bloom_bits=1 << 12,
                    ),
                )
                m2 = eng.run(seeds_df, resume=True)
            assert [m["snapshot"] for m in m2] == [2, 3]
            assert collect_batches(store, spark, 4) == ref

    def test_resume_across_placements(self, spark, pages_df, seeds_df, tmp_path):
        """Resumes that change the placement (map -> table -> map -> map)
        rebuild or reload the state and crawl exactly as one run: the
        first map batch after a switch checkpoints a full delta, and the
        last resume ORs only the deltas since that switch."""
        cfg = dict(default_budget=4, bloom_buckets=8, bloom_bits=1 << 12)
        ref_store, _ = run_engine(
            spark, pages_df, seeds_df, tmp_path / "ref", FrontierConfig(max_batches=5, **cfg)
        )
        store = SnapStore(str(tmp_path / "mixed"))
        for upto, threshold in ((2, None), (3, -1), (4, None), (5, None)):
            with broadcast_threshold(spark, threshold):
                eng = FrontierEngine(
                    spark, pages_df, store, config=FrontierConfig(max_batches=upto, **cfg)
                )
                eng.run(seeds_df, resume=upto > 2)
        placements = [store.manifest(k)["metrics"]["placement"] for k in range(5)]
        assert placements == ["map", "map", "table", "map", "map"]
        assert collect_batches(store, spark, 5) == collect_batches(ref_store, spark, 5)

    def test_cuckoo_resume_legacy_scheme_rebuilds(
        self, spark, pages_df, seeds_df, tmp_path
    ):
        """A checkpoint whose manifest lacks the cuckoo hash-scheme stamp
        (legacy / pre-change) must NOT load the stored cuckoo_state blobs —
        they were built under a different bucket derivation and would probe
        the wrong buckets (ADVICE r4: silent false negatives). Simulated by
        stripping the stamp AND replacing the stored blobs with garbage: a
        resume that wrongly loaded them would re-crawl seen urls."""
        import json
        import os
        import shutil

        from warc_spark.operators.seen import CuckooSeenSet

        cfg = dict(default_budget=4, seen_backend="cuckoo",
                   bloom_buckets=8, bloom_bits=1 << 12)
        ref_store, _ = run_engine(
            spark, pages_df, seeds_df, tmp_path / "ref",
            FrontierConfig(max_batches=4, **cfg),
        )
        ref = collect_batches(ref_store, spark, 4)
        store, _ = run_engine(
            spark, pages_df, seeds_df, tmp_path / "legacy",
            FrontierConfig(max_batches=2, **cfg),
        )
        for k in (0, 1):
            p = store._snap_path(k)
            with open(p) as f:
                m = json.load(f)
            m["config"].pop("cuckoo_hash_scheme")
            with open(p, "w") as f:
                json.dump(m, f)
        # garbage state: blobs that know only an unrelated url — if loaded,
        # every actually-seen url reads as unseen and gets re-scheduled
        state_dir = os.path.join(store.batch_dir(1), "cuckoo_state")
        garbage = CuckooSeenSet(n_buckets=8).build_blobs(
            spark.createDataFrame([("http://nowhere.invalid/x",)], "url string")
        )
        shutil.rmtree(state_dir)
        garbage.write.parquet(state_dir)
        eng = FrontierEngine(
            spark, pages_df, store, config=FrontierConfig(max_batches=4, **cfg)
        )
        m2 = eng.run(seeds_df, resume=True)
        assert [m["snapshot"] for m in m2] == [2, 3]
        assert collect_batches(store, spark, 4) == ref

    def test_resume_rejects_mismatched_geometry(self, spark, pages_df, seeds_df, tmp_path):
        store, _ = run_engine(
            spark, pages_df, seeds_df, tmp_path,
            FrontierConfig(max_batches=2, default_budget=4, use_bloom=True,
                           bloom_buckets=8, bloom_bits=1 << 12),
        )
        eng = FrontierEngine(
            spark, pages_df, store,
            config=FrontierConfig(max_batches=4, default_budget=4, use_bloom=True,
                                  bloom_buckets=16, bloom_bits=1 << 12),
        )
        with pytest.raises(ValueError, match="bloom_buckets"):
            eng.run(seeds_df, resume=True)


class TestSeenCompaction:
    def test_compaction_preserves_crawl(self, spark, pages_df, seeds_df, tmp_path):
        """LSM compaction of the seen-url log every 2 batches: identical
        crawl to the uncompacted run, and the compacted table at batch k
        holds exactly the urls scheduled in 0..k."""
        import os

        cfg_c = FrontierConfig(max_batches=4, default_budget=4, seen_compact_every=2)
        cfg_p = FrontierConfig(max_batches=4, default_budget=4, seen_compact_every=0)
        store_c, mc = run_engine(spark, pages_df, seeds_df, tmp_path / "c", cfg_c)
        store_p, mp = run_engine(spark, pages_df, seeds_df, tmp_path / "p", cfg_p)
        assert len(mc) == len(mp)
        assert collect_batches(store_c, spark, len(mc)) == collect_batches(
            store_p, spark, len(mp)
        )
        for k in (1, 3):
            d = os.path.join(store_c.batch_dir(k), "seen_compact")
            assert os.path.exists(os.path.join(d, "_SUCCESS"))
            compacted = {r.url for r in spark.read.parquet(d).collect()}
            scheduled = {
                r.url for r in store_c.read_all_scheduled(spark, k).collect()
            }
            assert compacted == scheduled
        # read_seen_urls equals the full scheduled set at every horizon
        for k in range(len(mc)):
            a = {r.url for r in store_c.read_seen_urls(spark, k).collect()}
            b = {r.url for r in store_c.read_all_scheduled(spark, k).collect()}
            assert a == b


class TestMissingFetch:
    """Fetch misses (urls absent from the pages corpus) — the left-join-null
    branch of the fetch path, including an ENTIRELY missing batch (all-null
    html through the struct-returning pandas UDF; ADVICE r1)."""

    def _absent_seeds(self, spark, n=6):
        rows = [
            (f"http://host0.example.org/nowhere/{i}", 1.0 - i * 0.01)
            for i in range(n)
        ]
        return spark.createDataFrame(rows, "url string, priority double")

    def test_all_missing_batch(self, spark, pages_df, tmp_path):
        store, manifests = run_engine(
            spark, pages_df, self._absent_seeds(spark), tmp_path,
            FrontierConfig(max_batches=3, default_budget=10),
        )
        # one batch: every url missing, no links, crawl ends
        assert len(manifests) == 1
        assert manifests[0]["metrics"]["missing"] == 6
        assert manifests[0]["metrics"]["found"] == 0
        assert manifests[0]["metrics"]["links_extracted"] == 0
        rows = store.read_df(spark, 0, "scheduled").collect()
        assert all(r.status == "missing" for r in rows)
        assert all(r.n_links == 0 for r in rows)
        assert all(r.text_extracted is None for r in rows)
        assert all(r.digest is None for r in rows)

    def test_mixed_missing_batch(self, spark, pages_df, seeds_df, tmp_path):
        mixed = seeds_df.unionByName(self._absent_seeds(spark))
        store, manifests = run_engine(
            spark, pages_df, mixed, tmp_path,
            FrontierConfig(max_batches=2, default_budget=30),
        )
        rows = store.read_df(spark, 0, "scheduled").collect()
        missing = [r for r in rows if r.status == "missing"]
        found = [r for r in rows if r.status == "found"]
        assert len(missing) == 6 and len(found) > 0
        assert all(r.text_extracted is None and r.n_links == 0 for r in missing)
        assert all(r.text_extracted is not None for r in found)


class TestRecrawl:
    """Expiry + re-seeding (E5 recrawl semantics): expired urls crawl
    again; non-expired seen urls stay deduplicated — under BOTH membership
    backends (cuckoo deletes fingerprints; bloom relies on the exact
    rescue, the stale bit only costing a lookup)."""

    def _crawl_then_expire(self, spark, pages_df, seeds_df, root, backend):
        cfg = FrontierConfig(
            max_batches=2, default_budget=4, seen_backend=backend,
            bloom_buckets=8, bloom_bits=1 << 12,
        )
        store = SnapStore(str(root / backend))
        eng = FrontierEngine(spark, pages_df, store, config=cfg)
        eng.run(seeds_df)
        sched = [r.url for r in store.read_all_scheduled(spark, 1)
                 .orderBy("url").collect()]
        expired = sched[:3]
        kept_seen = sched[3:5]
        eng.expire_urls(spark.createDataFrame([(u,) for u in expired], "url string"))
        # the seen log no longer contains the expired urls
        seen_now = {r.url for r in store.read_seen_urls(spark, 1).collect()}
        assert not (set(expired) & seen_now)
        assert set(kept_seen) <= seen_now
        # resume with seeds = expired + still-seen urls
        eng2 = FrontierEngine(
            spark, pages_df, store,
            config=FrontierConfig(
                max_batches=3, default_budget=100, seen_backend=backend,
                bloom_buckets=8, bloom_bits=1 << 12,
            ),
        )
        reseed = spark.createDataFrame(
            [(u, 10.0) for u in expired + kept_seen], "url string, priority double"
        )
        eng2.run(reseed, resume=True)
        batch2 = {r.url for r in store.read_df(spark, 2, "scheduled").collect()}
        return set(expired), set(kept_seen), batch2

    @pytest.mark.parametrize("backend", ["cuckoo", "bloom"])
    def test_expired_urls_recrawl(self, spark, pages_df, seeds_df, tmp_path, backend):
        expired, kept_seen, batch2 = self._crawl_then_expire(
            spark, pages_df, seeds_df, tmp_path, backend
        )
        assert expired <= batch2, "expired urls must be crawled again"
        assert not (kept_seen & batch2), "non-expired seen urls must stay deduped"

    @pytest.mark.parametrize("backend", ["cuckoo", "bloom"])
    def test_expired_urls_recrawl_table_shuffle(
        self, spark, pages_df, seeds_df, tmp_path, backend
    ):
        """The same with no broadcast at all: both backends on the state
        table and the shuffled sliver rescue."""
        with broadcast_threshold(spark, -1):
            expired, kept_seen, batch2 = self._crawl_then_expire(
                spark, pages_df, seeds_df, tmp_path, backend
            )
        assert expired <= batch2, "expired urls must be crawled again"
        assert not (kept_seen & batch2), "non-expired seen urls must stay deduped"


class TestCuckooFrontier:
    def test_cuckoo_equals_exact(self, spark, pages_df, seeds_df, tmp_path):
        """Cuckoo-backed membership must reproduce the exact-anti-join
        crawl batch-for-batch (fingerprint false positives are rescued
        exactly, insert is lossless)."""
        cfg_c = FrontierConfig(max_batches=3, default_budget=4,
                               seen_backend="cuckoo", bloom_buckets=8)
        cfg_e = FrontierConfig(max_batches=3, default_budget=4, use_bloom=False)
        store_c, mc = run_engine(spark, pages_df, seeds_df, tmp_path / "ck", cfg_c)
        store_e, me = run_engine(spark, pages_df, seeds_df, tmp_path / "ex", cfg_e)
        assert len(mc) == len(me)
        assert collect_batches(store_c, spark, len(mc)) == collect_batches(
            store_e, spark, len(me)
        )
        for m in mc:
            assert "cuckoo_state" in m["tables"]
        assert plans_of(mc, "placement") == {"table"}

    def test_cuckoo_distributed_probe_equals_exact(
        self, spark, pages_df, seeds_df, tmp_path
    ):
        """The cuckoo backend with no broadcast at all (budget -1): the
        fingerprint table is probed by the cogroup and the sliver rescued
        by the shuffled anti-join, and the crawl is still batch-for-batch
        identical to the exact path."""
        cfg_d = FrontierConfig(max_batches=3, default_budget=4,
                               seen_backend="cuckoo", bloom_buckets=8)
        cfg_e = FrontierConfig(max_batches=3, default_budget=4, use_bloom=False)
        with broadcast_threshold(spark, -1):
            store_d, md = run_engine(spark, pages_df, seeds_df, tmp_path / "ckd", cfg_d)
        assert plans_of(md, "rescue") == {"shuffle"}
        store_e, me = run_engine(spark, pages_df, seeds_df, tmp_path / "exd", cfg_e)
        assert len(md) == len(me)
        assert collect_batches(store_d, spark, len(md)) == collect_batches(
            store_e, spark, len(me)
        )
        seen_d = {r.url for r in store_d.read_all_scheduled(spark, len(md) - 1).collect()}
        seen_e = {r.url for r in store_e.read_all_scheduled(spark, len(me) - 1).collect()}
        assert seen_d == seen_e


class TestLinkNormalization:
    """normalize_links=True canonicalizes href soup (case, default port,
    fragments) before frontier emission — aliases of one resource collapse
    to a single fetch; without it the aliases each get scheduled."""

    def _pages(self, spark):
        import datetime as dt

        def page(url, hrefs):
            body = "<p>t</p>" + "".join(f'<a href="{h}">x</a>' for h in hrefs)
            html = ("W\r\n\r\nH\r\n\r\n" + body).encode()
            return (url, dt.datetime(2026, 8, 1), html, "t", "en")

        return spark.createDataFrame(
            [
                page("http://h0.example.org/a",
                     ["HTTP://H0.example.org:80/b#frag",
                      "http://h0.example.org/b",
                      "http://h0.example.org./b"]),
                page("http://h0.example.org/b", []),
            ],
            "url string, warc_ts timestamp, html binary, text string, lang string",
        )

    def _run(self, spark, tmp_path, normalize, sub):
        store = SnapStore(str(tmp_path / sub))
        eng = FrontierEngine(
            spark, self._pages(spark), store,
            config=FrontierConfig(max_batches=2, default_budget=10,
                                  normalize_links=normalize),
        )
        seeds = spark.createDataFrame(
            [("http://h0.example.org/a", 1.0)], "url string, priority double"
        )
        eng.run(seeds)
        return store.read_df(spark, 1, "scheduled").collect()

    def test_aliases_collapse(self, spark, tmp_path):
        rows = self._run(spark, tmp_path, True, "norm")
        assert len(rows) == 1
        assert rows[0].url == "http://h0.example.org/b"
        assert rows[0].status == "found"

    def test_without_normalization_aliases_fan_out(self, spark, tmp_path):
        rows = self._run(spark, tmp_path, False, "raw")
        urls = sorted(r.url for r in rows)
        assert len(urls) == 3  # canonical + 2 aliases all scheduled
        statuses = {r.url: r.status for r in rows}
        assert statuses["http://h0.example.org/b"] == "found"
        assert statuses["HTTP://H0.example.org:80/b#frag"] == "missing"
