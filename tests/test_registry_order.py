"""Registry insertion order is part of the driver contract:
``registry._verification_priority`` breaks ties between equally-verified
queries by it, so moving or splitting a query module must not reorder
``QUERIES``.  ``plans/registry_order.txt`` holds the committed order."""

from __future__ import annotations

import os
import subprocess
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_registry_order_matches_the_committed_list():
    # a fresh interpreter: an earlier test importing one query module
    # directly would register it out of order in this process
    code = (
        "from etl_pipeline_old_spark import registry\n"
        "registry._ensure_loaded()\n"
        "print('\\n'.join(registry.QUERIES))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=_ROOT, check=True, capture_output=True, text=True
    ).stdout.split()
    with open(os.path.join(_ROOT, "plans", "registry_order.txt"), encoding="utf-8") as fh:
        expected = fh.read().split()
    assert len(expected) == 466
    assert out == expected
