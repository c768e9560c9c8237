"""Recompute the pinned expected digests of the default seed.

    python3 perfbench/pin.py

The run compares its Spark-free expected digests with these whenever it runs
the pinned seed at the default size, so a change to a kernel that moves the
engine's output and the reference alike still fails the check. Re-pin only
for an intended change of output, and say so in the change.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
PINNED_PATH = os.path.join(HERE, "pinned.json")
PINNED_SEED = 0


def pinned_digests():
    from expected import digest
    from workloads import SIZES, WORKLOADS

    out = {}
    for name, cls in WORKLOADS.items():
        rows = cls.reference(cls.make_inputs(PINNED_SEED, SIZES[name]))
        out[name] = {"seed": PINNED_SEED, "size": SIZES[name],
                     "digests": {op: digest(r) for op, r in rows.items()}}
    return out


if __name__ == "__main__":
    sys.path[:0] = [HERE, os.path.dirname(HERE)]
    with open(PINNED_PATH, "w") as fh:
        json.dump(pinned_digests(), fh, indent=2, sort_keys=True)
        fh.write("\n")
