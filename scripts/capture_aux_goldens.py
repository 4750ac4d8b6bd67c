"""Regenerate the AML value golden, tests/goldens/aml_export.json: the
x_aml_export index rows plus the md5 of the complete stitched CAEX
document per sf dir (the serialization itself is reference-pinned by
tests/test_aml.py; the timestamp is a fixed parameter, so the bytes are
deterministic).

Run ONLY when the serializer semantics intentionally change,
and say so in the commit:

    python scripts/capture_aux_goldens.py
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

GOLDEN_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "goldens"
)
SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]


def main() -> None:
    import __spark_entry__ as entry
    from indu_doc_transformer_spark.plans.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    aml_rows = []
    for sf_dir in SF_DIRS:
        name = os.path.basename(sf_dir.rstrip("/"))
        for r in entry.x_aml_export(spark, sf_dir).collect():
            aml_rows.append({"sf": name, **r.asDict()})
        print(f"aml_export[{name}]: done ({len(aml_rows)} cumulative rows)")
    with open(os.path.join(GOLDEN_DIR, "aml_export.json"), "w") as f:
        json.dump(aml_rows, f, indent=1, sort_keys=True)

    spark.stop()


if __name__ == "__main__":
    main()
