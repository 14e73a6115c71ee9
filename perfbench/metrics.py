"""The benchmark's metric catalogue, read from BENCHMARK.json.

Every workload reports every metric. A per-layer metric of a layer the
workload does not run (the streaming layers on `analytics_suite`, the
query layer on `fleet_wide`) reads 0.
"""

from __future__ import annotations

import json
import os

_SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")

with open(_SPEC) as _fh:
    SPEC = json.load(_fh)

WORKLOADS = [w["name"] for w in SPEC["workloads"]]
END_TO_END = [m["name"] for m in SPEC["end_to_end"]]
PER_LAYER = [m["name"] for m in SPEC["per_layer"]]
UNITS = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}
