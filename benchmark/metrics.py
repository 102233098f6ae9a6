"""What the benchmark reports. Names, units and directions of the
printed metrics live in BENCHMARK.json at the root of the checkout;
this module reads them and holds the names the report is built from.
"""

import json
import os

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                              "BENCHMARK.json")

# Registry families whose build, plan and exec times are reported.
FAMILIES = "dtams"

STORE_CALLS = [
    "commitUpsert", "commitDelete", "writeStats", "writeBloomStats",
    "read", "readPoint", "readRange", "readVersion", "changesBetween",
    "commitCompaction", "expireVersions", "vacuum",
]

# Span names whose self time is reported; every store.<call> span is
# folded into "store".
SELF_LAYERS = ["op", "queries.build", "catalyst.plan", "exec.run", "check", "store"]


def load(path=BENCHMARK_JSON):
    """The BENCHMARK.json document."""
    with open(path) as f:
        return json.load(f)


def catalogue(doc, trace):
    """(name, unit) of every metric a run prints: the per-layer ones
    when traced, else the end-to-end ones.
    """
    return [(m["name"], m["unit"]) for m in doc["per_layer" if trace else "end_to_end"]]
