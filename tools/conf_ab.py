"""Session-level conf A/B harness (round 14, VERDICT #1).

Times a list of queries under the session built by ``get_spark`` plus an
optional JSON dict of extra conf from $CONF_JSON. One process per config
(a SparkSession's static confs cannot change after getOrCreate), so run:

    CONF_JSON='{}' python tools/conf_ab.py q_events_wilcoxon ...
    CONF_JSON='{"spark.sql...": "false"}' python tools/conf_ab.py ...

Methodology matches bench.py (warmup query, best-of-2 full collect per
query) and brackets the run with the CPU + shuffle sentinels so captures
under contention are self-evident. Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _best_of, _sentinel, _shuffle_sentinel  # noqa: E402
from ups_crossref_etl_spark.plans.registry import load_all  # noqa: E402
from ups_crossref_etl_spark.session import get_spark  # noqa: E402


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    extra = json.loads(os.environ.get("CONF_JSON", "{}"))
    spark = get_spark("conf_ab", extra_conf=extra)
    specs = load_all()
    specs["q1_pricing_summary"].fn(spark, sf_dir).count()
    out: dict[str, object] = {
        "conf": extra,
        "sentinel_pre": _sentinel(spark),
        "shuffle_sentinel_pre": _shuffle_sentinel(spark),
    }
    times: dict[str, float] = {}
    for name in names:
        fn = specs[name].fn
        spark.sparkContext.setJobDescription(f"conf_ab {name}")
        times[name] = _best_of(lambda: fn(spark, sf_dir).collect())
    out["queries"] = times
    out["total"] = round(sum(times.values()), 3)
    out["sentinel_post"] = _sentinel(spark)
    out["shuffle_sentinel_post"] = _shuffle_sentinel(spark)
    print("RESULT " + json.dumps(out))


if __name__ == "__main__":
    main()
