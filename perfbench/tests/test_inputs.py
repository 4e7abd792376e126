"""Seeded inputs are pinned: the digest of a pinned seed still matches,
and a different digest fails loudly.

Run: python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

HERE = os.path.dirname(__file__)
sys.path[:0] = [os.path.join(HERE, ".."), os.path.join(HERE, "..", "..")]

import inputs  # noqa: E402


def test_pinned_job_input_unchanged():
    pinned = inputs.load_pinned()
    seed = pinned["held_out_seed"]
    rows = inputs.make_rows("job_e2e", seed)
    assert len(rows) == inputs.WORKLOADS["job_e2e"][1]
    assert inputs.check_digest("job_e2e", seed, inputs.digest(rows), pinned)


def test_mismatch_and_unpinned_seed():
    pinned = {"digests": {"job_e2e": {"7": "0" * 64}}}
    with pytest.raises(inputs.DigestMismatch):
        inputs.check_digest("job_e2e", 7, "f" * 64, pinned)
    assert inputs.check_digest("job_e2e", 8, "f" * 64, pinned) is False


def test_digest_covers_every_field():
    rows = inputs.make_rows("job_e2e", 0)[:3]
    base = inputs.digest(rows)
    for key in ("url", "html", "text", "meta"):
        changed = [dict(r) for r in rows]
        changed[1][key] = (changed[1][key] or "") + (
            b"x" if isinstance(changed[1][key], bytes) else "x")
        assert inputs.digest(changed) != base, key
