"""The default driver heap: half the host's RAM, at most 48g."""
from __future__ import annotations

import os
import subprocess
import sys

import pytest

from askg_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("meminfo, heap", [
    # a 15.7 GiB host
    ("MemTotal:       16454528 kB\nMemFree:        14000000 kB\n",
     "8034m"),
    ("MemFree:  1 kB\nMemTotal: 4194304 kB\n", "2048m"),
    # half of 96 GiB is the cap itself; past it the cap holds
    ("MemTotal: 100663296 kB\n", "48g"),
    ("MemTotal: 1056964608 kB\n", "48g"),
    # unreadable or malformed: the cap
    (None, "48g"),
    ("", "48g"),
    ("MemFree: 1 kB\n", "48g"),
    ("MemTotal:\n", "48g"),
    ("MemTotal: lots kB\n", "48g"),
])
def test_default_heap_is_half_of_ram_capped_at_48g(meminfo, heap):
    assert session._default_heap(meminfo) == heap


def _default_conf(env: dict[str, str]) -> str:
    code = ("from askg_spark import session; "
            "print(session.DEFAULT_CONFS['spark.driver.memory'])")
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, env=env,
                         check=True, capture_output=True, text=True)
    return out.stdout.strip()


def test_env_var_wins_over_the_host_rule():
    env = {k: v for k, v in os.environ.items() if k != "ASKG_DRIVER_MEM"}
    assert _default_conf(env) == session._default_heap(session._meminfo())
    assert _default_conf({**env, "ASKG_DRIVER_MEM": "3g"}) == "3g"


def test_explicit_conf_wins_over_the_default(spark):
    # the test session passes spark.driver.memory=4g in extra_confs
    assert spark.sparkContext.getConf().get("spark.driver.memory") == "4g"
