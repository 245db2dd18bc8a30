"""Isolated-median pin for a single bench query (the r14 noise-study
pattern, made reusable per VERDICT r16 task 3): N timed runs of ONE
registry query in an otherwise idle session, bracketed by calibration
probes, so a driver-capture mover can be adjudicated noise-vs-real
against its own isolated median instead of an interleaved-pass sample.

Usage: python scripts/isolated_median.py <query> [runs] [sf_dir]
Output: one JSON line {query, samples, median, probes, sf_dir}.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main():
    name = sys.argv[1]
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 7
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"

    import __spark_entry__ as entrymod
    from bench import calibration_probe

    from aws_etl_bank_spark.session import get_spark

    spark = get_spark(f"isolated_{name}")
    spark.sparkContext.setLogLevel("OFF")
    qs = entrymod.queries()
    # warmup pass at tiny SF primes JVM/codegen/file-source metadata
    qs[name](spark, "/root/testdata/sf0.001").write.format(
        "noop").mode("overwrite").save()

    probes = [calibration_probe(spark)]
    samples = []
    for _ in range(runs):
        t0 = time.time()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        samples.append(round(time.time() - t0, 3))
        probes.append(round(calibration_probe(spark), 3))
    med = sorted(samples)[len(samples) // 2]
    print(json.dumps({"query": name, "sf_dir": sf_dir,
                      "samples": samples, "median": med,
                      "probes": probes}))


if __name__ == "__main__":
    main()
