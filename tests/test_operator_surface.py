"""The operator corpus has no size-gate knobs in its public signatures.

Each size gate (broadcast limits, driver-kernel limits, routing limits) is
a module constant; tests force either side of a gate by monkeypatching that
constant. The one parameter kept is ``dedup.connected_components
(driver_threshold=)``, which the driver entry sets to force the distributed
star-contraction path.
"""

from __future__ import annotations

import importlib
import inspect
import pkgutil
import re

KNOB = re.compile(r"broadcast_.*|.*_limit.*|driver_.*|checkpoint_every"
                  r"|batch_partitions|bytes_per_state_task")
PACKAGES = ("flink_sql_security_spark.operators",
            "flink_sql_security_spark.streaming")


def _public_functions(package: str):
    pkg = importlib.import_module(package)
    modules = [pkg] + [importlib.import_module(m.name) for m in
                       pkgutil.walk_packages(pkg.__path__, package + ".")]
    for mod in modules:
        for name, obj in vars(mod).items():
            if (not name.startswith("_") and inspect.isfunction(obj)
                    and obj.__module__ == mod.__name__):
                yield f"{mod.__name__}.{name}", obj


def test_no_public_size_gate_parameters():
    knobs = [(fn, p) for package in PACKAGES
             for fn, obj in _public_functions(package)
             for p in inspect.signature(obj).parameters
             if KNOB.fullmatch(p)]
    assert knobs == [("flink_sql_security_spark.operators.dedup"
                      ".connected_components", "driver_threshold")]
