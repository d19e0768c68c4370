"""Single-core, no-JVM timing of the WARC kernels the Spark sources call per
record: gzip inflate + ``parse_warc_stream`` on the read side,
``serialize_warc_record`` + ``compress_gzip_member`` on the write side."""

from __future__ import annotations

import time

from warc_spark.kernels import (
    compress_gzip_member,
    iter_gzip_members,
    parse_warc_stream,
    serialize_warc_record,
)

# BASELINE.md: the reference library under python2, one thread, 32-core host.
# Context for the figures above, not a gate.
REFERENCE = {"parse_gz_rec_per_s": 13_800, "serialize_gz_rec_per_s": 3_900}


def kernels_leg(sample_path: str) -> dict[str, float]:
    with open(sample_path, "rb") as f:
        data = f.read()
    t0 = time.perf_counter()
    records = [
        rec for _, _, member in iter_gzip_members(data)
        for rec in parse_warc_stream(member)
    ]
    t1 = time.perf_counter()
    for rec in records:
        compress_gzip_member(serialize_warc_record(rec.headers, rec.payload))
    t2 = time.perf_counter()
    return {
        "parse_gz_rec_per_s": len(records) / (t1 - t0),
        "serialize_gz_rec_per_s": len(records) / (t2 - t1),
    }
