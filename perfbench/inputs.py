"""Deterministic benchmark inputs and their expected outputs.

Everything here runs outside every timer and without Spark: the corpus is
the engine's own synthetic generator (``gen_pages_pdf``, pure numpy), written
to parquet with pyarrow or framed into gzip WARC segments, so the program
under test only ever sees files on disk. Expected outputs come from the
pure-Python crawl oracle (``tests/oracle_sim.simulate_crawl``) and from the
generated record bytes themselves, never from the code being measured.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from warc_spark.sources.pages import gen_pages_pdf

# crawl_polite: the CLI ``crawl`` defaults (1,000 seeds, budget 64/host,
# bloom 64 x 2^21 bits), with seen compaction every 3 batches instead of 8
# so that, in 4 batches, it fires once (batch 2) and is read back (batch 3).
CRAWL_SIZES = {"full": {"pages": 10_000, "seeds": 1_000, "batches": 4},
               "toy": {"pages": 1_500, "seeds": 200, "batches": 4}}
COMPACT_EVERY = 3
CRAWL_BUDGET = 64
# archive_roundtrip: more segment files than cores. The warm-up reads a
# separate copy of every segment: all of them, so that a Python worker starts
# on every core before the timed iterations; a copy, so that the self-test's
# corrupted byte stays out of the warm-up.
ARCHIVE_SIZES = {"full": {"records": 10_000, "files": 16},
                 "toy": {"records": 600, "files": 6}}


def fingerprint(lines) -> str:
    """Order-free digest of a collection of text lines (a multiset)."""
    return hashlib.sha1("\n".join(sorted(lines)).encode()).hexdigest()


def _corpus(n_pages: int, seed: int):
    return gen_pages_pdf(
        np.arange(n_pages, dtype=np.uint64), n_pages, max(8, n_pages // 200), seed
    )


def _write_parquet(pdf, path: str, files: int) -> None:
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    step = -(-len(pdf) // files)
    for i in range(files):
        pq.write_table(
            table.slice(i * step, step),
            os.path.join(path, f"part-{i:03d}.parquet"),
            coerce_timestamps="us",
        )


def _root(work: str, workload: str, size: dict, seed: int, corrupt: bool) -> str:
    """Cache directory named by everything the inputs and oracle depend on."""
    name = "-".join([workload, *map(str, size.values()), str(seed)])
    return os.path.join(work, "inputs", name + ("-corrupt" if corrupt else ""))


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_DONE"))


def _mark_done(path: str, meta: dict) -> None:
    with open(os.path.join(path, "_DONE"), "w") as f:
        json.dump(meta, f)


def crawl_inputs(work: str, seed: int, scale: str, corrupt: bool = False) -> dict:
    """Pages + seeds parquet for crawl_polite and the oracle's expectation.

    The seed list is the one ``synth_seeds`` derives (seed ``i`` is page
    ``7*i mod n`` with priority ``1 - (i mod 499)/1000``, duplicate urls
    max-merged), built from the generated corpus rather than by the engine.
    The oracle result is cached beside the inputs, keyed by size and seed.
    """
    size = CRAWL_SIZES[scale]
    n, n_seeds = size["pages"], size["seeds"]
    root = _root(work, "crawl_polite", {**size, "budget": CRAWL_BUDGET}, seed, corrupt)
    if _done(root):
        with open(os.path.join(root, "_DONE")) as f:
            return json.load(f)
    pdf = _corpus(n, seed)
    i = np.arange(n_seeds)
    seeds = {}
    for url, pri in zip(pdf["url"].to_numpy()[i * 7 % n], 1.0 - (i % 499) * 1e-3):
        seeds[url] = max(seeds.get(url, float("-inf")), float(pri))
    _write_parquet(pdf, os.path.join(root, "pages"), files=8)
    _write_parquet(
        pd.DataFrame({"url": list(seeds), "priority": list(seeds.values())}),
        os.path.join(root, "seeds"), files=1,
    )
    from oracle_sim import simulate_crawl

    sim = simulate_crawl(
        pdf, list(seeds.items()), default_budget=CRAWL_BUDGET,
        max_batches=size["batches"],
    )
    meta = {
        "pages": os.path.join(root, "pages"),
        "seeds": os.path.join(root, "seeds"),
        "batches": size["batches"],
        "expected": {
            "batches": len(sim.batches),
            "scheduled": sum(len(b) for b in sim.batches),
            "frontier_after": sim.metrics[-1]["frontier_after"],
            "fingerprint": fingerprint(
                f"{k}\t{u}" for k, b in enumerate(sim.batches) for u, _ in b
            ),
        },
        "kernel_sample": _kernel_sample(root, pdf["html"]),
    }
    if corrupt:
        corrupt_crawl_input(meta)
    _mark_done(root, meta)
    return meta


_RECORD_ID = re.compile(rb"WARC-Record-ID: (<[^>]*>)\r\n")


def record_id_and_payload_sha1(record: bytes) -> str:
    """``record_id <tab> sha1(payload)`` of one serialized WARC record, read
    off the bytes directly (header block, blank line, payload, CRLF CRLF)."""
    head, rest = record.split(b"\r\n\r\n", 1)
    rid = _RECORD_ID.search(head + b"\r\n").group(1).decode()
    return f"{rid}\t{hashlib.sha1(rest[:-4]).hexdigest()}"


def archive_inputs(work: str, seed: int, scale: str, corrupt: bool = False) -> dict:
    """gz WARC segments (one gzip member per response record, level 6) and
    the expected ``(record_id, payload sha1)`` multiset."""
    size = ARCHIVE_SIZES[scale]
    n, files = size["records"], size["files"]
    root = _root(work, "archive_roundtrip", size, seed, corrupt)
    if _done(root):
        with open(os.path.join(root, "_DONE")) as f:
            return json.load(f)
    records = list(_corpus(n, seed)["html"])
    segs, warm = os.path.join(root, "segments"), os.path.join(root, "warmup")
    os.makedirs(segs, exist_ok=True)
    os.makedirs(warm, exist_ok=True)
    for k in range(files):
        blob = b"".join(
            gzip.compress(r, compresslevel=6, mtime=0) for r in records[k::files]
        )
        for d in (segs, warm):
            with open(os.path.join(d, f"seg-{k:03d}.warc.gz"), "wb") as f:
                f.write(blob)
    meta = {
        "segments": segs,
        "warmup": warm,
        "expected": {
            "records": n,
            "fingerprint": fingerprint(map(record_id_and_payload_sha1, records)),
        },
        "kernel_sample": _kernel_sample(root, records),
    }
    if corrupt:
        corrupt_archive_input(meta)
    _mark_done(root, meta)
    return meta


def _kernel_sample(root: str, records, n: int = 2_000) -> str:
    """The first ``n`` records as one gz segment for the no-JVM kernel leg."""
    path = os.path.join(root, "kernel_sample.warc.gz")
    with open(path, "wb") as f:
        for r in list(records)[:n]:
            f.write(gzip.compress(r, compresslevel=6, mtime=0))
    return path


def corrupt_crawl_input(meta: dict) -> None:
    """Self-test injection: rewrite one byte of a link in the top seed's
    page so the crawl graph, and hence the crawl, leaves the oracle's."""
    seeds = pq.read_table(meta["seeds"]).to_pandas()
    top = seeds.sort_values(["priority", "url"], ascending=[False, True]).url.iloc[0]
    for fn in sorted(os.listdir(meta["pages"])):
        path = os.path.join(meta["pages"], fn)
        pdf = pq.read_table(path).to_pandas()
        hit = pdf.index[pdf["url"] == top]
        if len(hit):
            head, links = pdf.at[hit[0], "html"].split(b'href="', 1)
            pdf.at[hit[0], "html"] = (
                head + b'href="' + links.replace(b"/page/", b"/pagX/", 1)
            )
            pq.write_table(
                pa.Table.from_pandas(pdf, preserve_index=False), path,
                coerce_timestamps="us",
            )
            return
    raise ValueError("top seed page not found in the generated corpus")


def corrupt_archive_input(meta: dict) -> None:
    """Self-test injection: flip one byte in the middle of one segment."""
    path = os.path.join(meta["segments"], sorted(os.listdir(meta["segments"]))[-1])
    with open(path, "r+b") as f:
        f.seek(os.path.getsize(path) // 2)
        b = f.read(1)
        f.seek(-1, os.SEEK_CUR)
        f.write(bytes([b[0] ^ 0xFF]))
