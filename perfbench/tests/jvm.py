"""Build the benchmark and run one of its JVM self-tests."""

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
import run  # noqa: E402

WORK = os.path.join(run.WORK, "tests")


def selftest(name, *args):
    """Run `SelfTest <name> <args>`; returns the JSON its last line prints."""
    classes = run.build()
    os.makedirs(WORK, exist_ok=True)
    cmd = run.java(classes, WORK, "graft.perfbench.SelfTest", name, *args)
    out = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                         timeout=170, check=True, cwd=WORK)
    return json.loads(out.stdout.strip().splitlines()[-1])
