"""Byte identity of both quad sources on the benchmark's own pages.

Each case generates one benchmark workload's pages (``perfbench/``, seeded)
and runs them in process through the workload's mapInPandas function:
the batch UDF for ``kg_build_linked`` and the bounded reader's UDF for
``stream_bounded_dump``.  The row count and the sha256 of the ordered
row list are pinned, so any change to quads, canonical labels, salting,
warning or error rows, or row order shows up here.

After a deliberate output change, run

    python3 -m pytest tests/test_replay_identity.py -q

and copy the row count and digest each failure message shows into
``PINS``, in the same commit as the change.
"""

import hashlib
import os
import sys

import pytest

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")

# (workload, seed) -> (rows, sha256(repr(rows))[:16])
PINS = {
    ("kg_build_linked", 1): (8425, "ec0d5eb686c9b527"),
    ("kg_build_linked", 7): (8373, "d984d73c4055267d"),
    ("stream_bounded_dump", 1): (68597, "0e44d4b159b0b352"),
    ("stream_bounded_dump", 7): (68647, "feaf6f229d3e2ef1"),
}


@pytest.fixture(scope="module")
def workloads():
    sys.path.insert(0, PERFBENCH)  # perfbench's modules import each other by name
    try:
        import workloads
    finally:
        sys.path.remove(PERFBENCH)
    return workloads


@pytest.mark.parametrize("name, seed", sorted(PINS))
def test_replay_rows_pinned(workloads, tmp_path, name, seed):
    fn = workloads.batch_fn if name == "kg_build_linked" else workloads.reader_fn
    inputs = workloads.prepare_inputs(
        workloads.WORKLOADS[name], seed, str(tmp_path), smoke=False
    )
    rows = workloads.replay(fn, workloads.python_batches(inputs)).rows
    sha = hashlib.sha256(repr(rows).encode()).hexdigest()[:16]
    assert (len(rows), sha) == PINS[name, seed]
