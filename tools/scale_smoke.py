"""Scale smoke test: replicate the sf0.1 tables ~16× (≈10M lineitem rows,
80k docs) into /tmp and run the headline plans against them, reporting
timings and plan health (shuffle counts, join strategies). This is the
local stand-in for the "would this survive 100×?" question — it verifies
the same logical plans execute with multi-hundred-MB shuffles, skewless,
without driver-side collection.

Usage: python tools/scale_smoke.py [replication_factor]
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from ranger_spark.plans.inspect import join_strategies, num_exchanges
from ranger_spark.queries import load_all
from ranger_spark.session import get_spark
from ranger_spark.sources.replicate import build_replicated

BASE = "/root/testdata/sf0.1"
OUT = "/tmp/ranger_scale"


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    spark = get_spark("scale_smoke")
    t0 = time.time()
    build_replicated(spark, BASE, OUT, factor)
    print(f"build took {time.time()-t0:.1f}s")
    reg = load_all()
    names = [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_region_revenue",
        "q18_large_orders",
        "dedup_exact",
        "dedup_minhash_lsh",
        "text_quality",
        "ann_cosine_topk",
        "events_sessionization",
        "doc_chunk_sliding",
        "cross_doc_ngram_dup",
        "dedup_span_removal",
        "pii_redact",
        "json_extract_events",
        "approx_sketches",
        "multimodal_jpeg_pixel_stats",
    ]
    rows = spark.read.parquet(f"{OUT}/lineitem.parquet").count()
    print(f"lineitem rows: {rows:,}")
    for name in names:
        df = reg[name].builder(spark, OUT)
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        cold = time.time() - t0
        # steady state: codegen/JIT/GC noise dominates a single cold run
        # (see bench.py); report the resident-engine number alongside
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        steady = time.time() - t0
        js = {k: v for k, v in join_strategies(df).items() if v}
        print(
            f"{name}: cold {cold:.2f}s steady {steady:.2f}s "
            f"exchanges={num_exchanges(df)} joins={js}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
