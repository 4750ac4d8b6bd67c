"""WARC ingestion throughput + scaling evidence (round 5: the
streaming-gunzip rewrite's perf story, companion to the RSS bound).

Generates a deterministic multi-file .warc.gz corpus (per-record gzip
members, Common-Crawl layout), then measures `read_warc` end-to-end
(decompress + record walk + Arrow emit + count) at two parallelism
levels on the same files. Prints one JSON line with docs/s at each
level and the scaling efficiency; appendix-note the result in
BENCH/BASELINE.md.

Usage: python scripts/warc_bench.py [n_files] [recs_per_file] [n_lo] [n_hi]
"""

from __future__ import annotations

import gzip
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def gen_file(path: str, file_id: int, n_recs: int, body_bytes: int) -> None:
    payload_head = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
    filler = (b"<p>tok%d </p>" % file_id) * (body_bytes // 12)
    with open(path, "wb") as f:
        for i in range(n_recs):
            body = payload_head + b"<html><h1>T%d</h1>" % i + filler + b"</html>"
            head = (b"WARC/1.0\r\nWARC-Type: response\r\n"
                    b"WARC-Target-URI: http://h%d.example/%d\r\n" % (file_id, i)
                    + b"WARC-Date: 2020-01-01T00:00:00Z\r\n"
                    b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n")
            f.write(gzip.compress(head + body + b"\r\n\r\n", compresslevel=6))


def run(cores: int, path: str, expect: int) -> float:
    from indu_doc_transformer_spark.plans.session import get_spark
    from indu_doc_transformer_spark.sources.warc import read_warc

    spark = get_spark(master=f"local[{cores}]", shuffle_partitions=cores,
                      app_name=f"warc-bench-{cores}")
    spark.sparkContext.setLogLevel("ERROR")
    read_warc(spark, path).count()  # warm workers + page cache
    best = None
    for _ in range(3):
        t0 = time.time()
        n = read_warc(spark, path).count()
        dt = time.time() - t0
        assert n == expect, (n, expect)
        best = dt if best is None or dt < best else best
    spark.stop()
    return best


def main() -> None:
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 32
    recs = int(sys.argv[2]) if len(sys.argv) > 2 else 400
    n_lo = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    n_hi = int(sys.argv[4]) if len(sys.argv) > 4 else 32
    body = 16 << 10  # ~16 KiB raw html per record

    total = n_files * recs
    raw_mb = total * body / (1 << 20)
    with tempfile.TemporaryDirectory(prefix="warc_bench_") as d:
        for fid in range(n_files):
            gen_file(os.path.join(d, f"part-{fid:04d}.warc.gz"), fid, recs, body)
        lo = run(n_lo, d + "/*.warc.gz", total)
        hi = run(n_hi, d + "/*.warc.gz", total)
    eff = (total / hi) / (total / lo) / (n_hi / n_lo)
    print(json.dumps({
        "metric": "warc ingest docs/sec",
        "files": n_files, "records": total, "raw_mb": round(raw_mb, 1),
        "runs": {
            str(n_lo): {"wall_s": round(lo, 2), "docs_per_sec": round(total / lo, 1)},
            str(n_hi): {"wall_s": round(hi, 2), "docs_per_sec": round(total / hi, 1)},
        },
        f"eff_{n_lo}_{n_hi}": round(eff, 3),
    }))


if __name__ == "__main__":
    main()
