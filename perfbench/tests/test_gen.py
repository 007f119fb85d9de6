"""Generator determinism and the recorded injection counts."""

import os
import sys
from collections import Counter

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def _cols(t):
    return (t.conv_id, t.turn_idx, t.role, t.text, t.tool, t.ts_us)


def test_same_seed_same_rows_other_seed_other_rows():
    a = gen.transcripts(7, 5_000, inject_frac=0.01)
    b = gen.transcripts(7, 5_000, inject_frac=0.01)
    c = gen.transcripts(8, 5_000, inject_frac=0.01)
    for x, y in zip(_cols(a), _cols(b)):
        assert list(x) == list(y)
    assert a.kinds == b.kinds
    assert list(a.conv_id) != list(c.conv_id)


def test_clean_conversations_follow_the_protocol():
    t = gen.transcripts(1, 2_000)
    allowed, first = gen.PROTOCOL
    allowed = set(allowed)
    for c in np.unique(t.conv_id):
        rows = np.flatnonzero(t.conv_id == c)
        roles = list(t.role[rows])
        assert roles[0] in first
        assert all(p in allowed for p in zip(roles, roles[1:]))
        assert list(t.turn_idx[rows]) == list(range(len(rows)))
        assert all(np.diff(t.ts_us[rows]) > 0)
        for i, r in enumerate(rows):
            if roles[i] == "tool":
                assert roles[i - 1] == "assistant" and t.tool[r - 1]
            if roles[i] == "assistant" and t.tool[r] is not None:
                assert roles[i + 1] == "tool"
    assert not any(v is None for v in t.conv_id)
    assert not any(v is None for v in t.turn_idx)


def test_injections_are_recorded_one_per_conversation():
    t = gen.transcripts(3, 20_000, inject_frac=0.01)
    assert sum(t.kinds.values()) == 200 == len(t.injected_rows)
    assert set(t.kinds) <= set(gen.KINDS)
    convs = [t.conv_id[p] for p in t.injected_rows]
    assert len(set(convs)) == len(convs)


def test_expected_codes_sum_the_effects():
    t = gen.transcripts(3, 20_000, inject_frac=0.01)
    k = t.kinds
    want = gen.expected_codes(t, tool_code="RefIntegrity")
    assert want["RefIntegrity"] == k["unknown_tool"]
    assert want["DuplicateKey"] == 2 * k["dup_key"]
    assert want["TurnGap"] == k["dup_key"] + k["turn_gap"]
    assert want["BadRoleTransition"] == (
        2 * k["enum_role"] + k["dup_key"] + 2 * k["bad_transition"])


def test_dirty_codes_match_the_rows():
    t = gen.transcripts(5, 10_000, dirty_frac=0.4)
    got = Counter()
    got["TooLong"] = sum(1 for s in t.text if s and len(s) > gen.MAX_TEXT)
    got["MissingRequired"] = sum(1 for s in t.text if s is None)
    got["TooShort"] = sum(1 for s in t.text if s == "")
    got["NotInEnum"] = (sum(1 for r in t.role if r not in gen.ROLES)
                        + sum(1 for x in t.tool
                              if x is not None and x not in gen.TOOLS))
    got["BelowMinimum"] = int((t.turn_idx < 0).sum())
    got["AboveMaximum"] = int((t.turn_idx > gen.MAX_IDX).sum())
    got["InvalidUuidFormat"] = sum(1 for c in t.conv_id if c.startswith("conv-"))
    for code, n in got.items():
        assert t.dirty_codes[code] == n, code
    assert 0.35 < len(t.injected_rows) / len(t) < 0.45
    keys = list(zip(t.conv_id, t.turn_idx))
    assert len(set(keys)) == len(keys)

