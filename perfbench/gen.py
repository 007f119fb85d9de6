"""Seeded transcript generator for the benchmark.

Independent of the package under test: inputs depend only on the seed and
the shape arguments, so a change to the program cannot move them.

Every conversation follows the role protocol ``PROTOCOL``::

    system, user, assistant (calls a tool), tool, assistant, user, ...

Violations are injected at known positions, at most one per conversation,
so each injection has a fixed effect on every check. ``KIND_EFFECTS``
records that effect per check family; ``expected_codes`` sums it over the
recorded injections. Row-local noise (``dirty_frac``) is recorded per
violation code as it is injected. No key column is ever NULL.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field

import numpy as np

ROLES = ("system", "user", "assistant", "tool")
TOOLS = ("search", "calculator", "code_exec", "browser")
PROTOCOL = (
    [("system", "user"), ("user", "assistant"), ("assistant", "user"),
     ("assistant", "tool"), ("tool", "assistant"), ("tool", "tool")],
    ["system", "user"],
)
MAX_TEXT = 2000
MAX_IDX = 100_000
BASE_US = 1_767_225_600_000_000          # 2026-01-01 00:00:00 UTC
TURN_US = 60_000_000                     # one minute between turns
CONV_US = 3_600_000_000 * 4              # conversations never overlap in time

# position of a turn inside the repeating user/assistant/tool/assistant
# cycle that follows the opening system turn
USER, CALL, RESULT, REPLY = 0, 1, 2, 3

# check families: "row" = the spec's role enum, maxLength and required
# text; "tool" = the tool vocabulary or enum (its code differs per
# workload); "cross" = duplicate key, gap-free, monotonic ts, role DFA and
# tool pairing
KIND_EFFECTS = {
    "enum_role": {"row": {"NotInEnum": 1}, "cross": {"BadRoleTransition": 2}},
    "long_text": {"row": {"TooLong": 1}},
    "null_text": {"row": {"MissingRequired": 1}},
    "unknown_tool": {"tool": 1},
    "dup_key": {"cross": {"DuplicateKey": 2, "TurnGap": 1,
                          "ToolResultWithoutCall": 1, "BadRoleTransition": 1}},
    "turn_gap": {"cross": {"TurnGap": 1}},
    "ts_regress": {"cross": {"NonMonotonicTs": 1}},
    "bad_transition": {"cross": {"BadRoleTransition": 2}},
    "bad_first": {"cross": {"BadFirstRole": 1}},
    "orphan_tool": {"cross": {"ToolResultWithoutCall": 1}},
}
KINDS = tuple(KIND_EFFECTS)

_WORDS = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
          "kilo lima mike november oscar papa quebec romeo sierra tango "
          "uniform victor whiskey xray yankee zulu héllo wörld "
          "données \U0001f642 42 7f").split()


@dataclass
class Transcripts:
    """Columns of ``transcripts(conv_id, turn_idx, role, text, tool, ts)``
    plus what was injected into them."""

    conv_id: np.ndarray
    turn_idx: np.ndarray
    role: np.ndarray
    text: np.ndarray
    tool: np.ndarray
    ts_us: np.ndarray
    kinds: Counter = field(default_factory=Counter)
    dirty_codes: Counter = field(default_factory=Counter)
    injected_rows: np.ndarray = field(
        default_factory=lambda: np.zeros(0, dtype=np.int64))

    def __len__(self) -> int:
        return len(self.turn_idx)

    def to_arrow(self, start: int = 0, stop: int = None):
        import pyarrow as pa
        s = slice(start, stop)
        return pa.table({
            "conv_id": pa.array(self.conv_id[s], pa.string()),
            "turn_idx": pa.array(self.turn_idx[s], pa.int32()),
            "role": pa.array(self.role[s], pa.string()),
            "text": pa.array(self.text[s], pa.string()),
            "tool": pa.array(self.tool[s], pa.string()),
            "ts": pa.array(self.ts_us[s], pa.timestamp("us", tz="UTC")),
        })

    def write_parquet(self, path: str, n_files: int) -> list[str]:
        """Write conversation-contiguous files ``part-00000.parquet`` ...
        into ``path``; returns the file names in row order."""
        import os
        import pyarrow.parquet as pq
        os.makedirs(path, exist_ok=True)
        bounds = np.linspace(0, len(self), n_files + 1).astype(int)
        names = []
        for i in range(n_files):
            name = os.path.join(path, f"part-{i:05d}.parquet")
            pq.write_table(self.to_arrow(bounds[i], bounds[i + 1]), name)
            names.append(name)
        return names


def expected_codes(t: Transcripts, *, tool_code: str = None,
                   cross: bool = True) -> Counter:
    """Per-code violation counts the checks must report on ``t``.

    ``tool_code`` is the code an unknown tool raises (``RefIntegrity``
    for a vocabulary, ``NotInEnum`` for a spec enum, None if unchecked);
    ``cross=False`` leaves out the cross-row checks."""
    out = Counter()
    for kind, n in t.kinds.items():
        eff = KIND_EFFECTS[kind]
        for code, k in eff.get("row", {}).items():
            out[code] += k * n
        if tool_code and "tool" in eff:
            out[tool_code] += eff["tool"] * n
        if cross:
            for code, k in eff.get("cross", {}).items():
                out[code] += k * n
    out.update(t.dirty_codes)
    return +out


def _uuids(rng: np.random.Generator, n: int) -> np.ndarray:
    raw = rng.integers(0, 256, size=(n, 16), dtype=np.uint8)
    out = np.empty(n, dtype=object)
    for i in range(n):
        h = raw[i].tobytes().hex()
        out[i] = f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"
    return out


def _text_pool(rng: np.random.Generator, n: int = 4096) -> np.ndarray:
    words = np.array(_WORDS, dtype=object)
    pool = np.empty(n, dtype=object)
    for i in range(n):
        k = int(rng.integers(2, 40))
        # "data" keeps every pooled text matching the spec's [0-9a-f]
        pool[i] = " ".join(words[rng.integers(0, len(words), size=k)]) \
            + " data"
    return pool


def transcripts(seed: int, n_turns: int, *, turns_per_conv: int = 50,
                inject_frac: float = 0.0, dirty_frac: float = 0.0
                ) -> Transcripts:
    """Generate about ``n_turns`` protocol-valid turns.

    ``inject_frac`` of the turns (one per chosen conversation) carry one
    ``KINDS`` injection; ``dirty_frac`` of the rows get one or two
    row-local keyword violations (see ``_dirty``)."""
    # a conversation never ends on a tool call (that would be a
    # ToolCallWithoutResult nobody injected)
    if (turns_per_conv - 2) % 4 == CALL:
        raise ValueError(f"turns_per_conv={turns_per_conv} ends on a tool call")
    rng = np.random.default_rng(seed)
    n_conv = n_turns // turns_per_conv
    lengths = np.full(n_conv, turns_per_conv, dtype=np.int64)
    starts = np.concatenate([[0], np.cumsum(lengths)[:-1]])
    n = int(lengths.sum())
    conv = np.repeat(np.arange(n_conv), lengths)
    pos = np.arange(n) - np.repeat(starts, lengths)
    cyc = (pos - 1) % 4

    role_ix = np.where(pos == 0, 0,
                       np.select([cyc == USER, cyc == RESULT], [1, 3], 2))
    role = np.array(ROLES, dtype=object)[role_ix]
    tool_ix = rng.integers(0, len(TOOLS), size=n)
    shift = np.roll(tool_ix, 1)
    tool_ix = np.where((pos > 0) & (cyc == RESULT), shift, tool_ix)
    tools = np.array(TOOLS, dtype=object)[tool_ix]
    has_tool = (pos > 0) & ((cyc == CALL) | (cyc == RESULT))
    tool = np.where(has_tool, tools, None)
    text = _text_pool(rng)[rng.integers(0, 4096, size=n)]
    ts = BASE_US + conv * CONV_US + pos * TURN_US
    t = Transcripts(conv_id=_uuids(rng, n_conv)[conv],
                    turn_idx=pos.astype(np.int32), role=role, text=text,
                    tool=tool, ts_us=ts.astype(np.int64))
    if inject_frac:
        _inject(t, rng, starts, lengths, int(round(n * inject_frac)))
    if dirty_frac:
        _dirty(t, rng, dirty_frac)
    return t


def _inject(t: Transcripts, rng, starts, lengths, n_inject: int) -> None:
    """One ``KINDS`` injection in each of ``n_inject`` conversations."""
    eligible = np.flatnonzero(lengths >= 16)
    chosen = rng.choice(eligible, size=min(n_inject, len(eligible)),
                        replace=False)
    kinds = rng.integers(0, len(KINDS), size=len(chosen))
    rows = []
    for c, k in zip(chosen, kinds):
        kind = KINDS[k]
        s, length = int(starts[c]), int(lengths[c])
        # a random cycle of the conversation that is followed by a full
        # one, so every position below has both neighbours in the cycle
        base = 1 + 4 * int(rng.integers(1, (length - 2) // 4 - 1))
        r = s + base
        if kind == "enum_role":
            p = r + USER
            t.role[p] = "narrator"
        elif kind == "long_text":
            p = r + int(rng.integers(0, 4))
            t.text[p] = "a" * (MAX_TEXT + 1)
        elif kind == "null_text":
            p = r + int(rng.integers(0, 4))
            t.text[p] = None
        elif kind == "unknown_tool":
            p = r + CALL
            t.tool[p] = "hammer"
        elif kind == "dup_key":
            # the reply turn becomes a copy of the tool turn before it
            p = r + REPLY
            for col in (t.conv_id, t.turn_idx, t.role, t.tool, t.ts_us):
                col[p] = col[p - 1]
        elif kind == "turn_gap":
            p = s + length - 1
            t.turn_idx[p] += 1
        elif kind == "ts_regress":
            p = r + int(rng.integers(0, 4))
            t.ts_us[p] = t.ts_us[p - 1] - 1_000_000
        elif kind == "bad_transition":
            p = r + USER
            t.role[p] = "system"
        elif kind == "bad_first":
            p = s
            t.role[p] = "assistant"
        else:  # orphan_tool: the call loses its tool, its result is orphaned
            p = r + CALL
            t.tool[p] = None
        t.kinds[kind] += 1
        rows.append(p)
    t.injected_rows = np.array(sorted(rows), dtype=np.int64)


# row-local noise: one variant per column group, each with its exact codes
_DIRTY = {
    "text": [("long", {"TooLong": 1}), ("nohex", {"PatternMismatch": 1}),
             ("empty", {"TooShort": 1, "PatternMismatch": 1}),
             ("null", {"MissingRequired": 1})],
    "role": [("role", {"NotInEnum": 1})],
    "tool": [("tool", {"NotInEnum": 1})],
    "idx": [("neg", {"BelowMinimum": 1}), ("big", {"AboveMaximum": 1})],
    "conv": [("conv", {"InvalidUuidFormat": 1})],
}
_GROUPS = tuple(_DIRTY)


def _dirty(t: Transcripts, rng, frac: float) -> None:
    """Give ``frac`` of the rows one or two row-local violations in
    distinct column groups. Corrupted keys stay unique per row."""
    n = len(t)
    rows = np.flatnonzero(rng.random(n) < frac)
    n_groups = rng.integers(1, 3, size=len(rows))
    picks = rng.random((len(rows), len(_GROUPS))).argsort(axis=1)
    variant = rng.integers(0, 4, size=(len(rows), len(_GROUPS)))
    # a row takes the first n_groups groups of its random permutation
    chosen = picks.argsort(axis=1) < n_groups[:, None]
    obj = lambda xs: np.array(xs, dtype=object)  # noqa: E731
    for g, group in enumerate(_GROUPS):
        variants = _DIRTY[group]
        for v, (name, codes) in enumerate(variants):
            p = rows[chosen[:, g] & (variant[:, g] % len(variants) == v)]
            if name == "long":
                t.text[p] = obj(["b" * (MAX_TEXT + 1 + k)
                                 for k in range(7)])[p % 7]
            elif name == "nohex":
                t.text[p] = obj(["zzz qqq " + "x" * k for k in range(5)])[p % 5]
            elif name == "empty":
                t.text[p] = ""
            elif name == "null":
                t.text[p] = None
            elif name == "role":
                t.role[p] = obj(["narrator", "System", "bot"])[p % 3]
            elif name == "tool":
                t.tool[p] = obj([f"tool_{k}" for k in range(11)])[p % 11]
            elif name == "neg":
                t.turn_idx[p] = -1 - t.turn_idx[p]
            elif name == "big":
                t.turn_idx[p] = MAX_IDX + 1 + t.turn_idx[p]
            else:
                t.conv_id[p] = obj([f"conv-{q:09d}" for q in p])
            for code, k in codes.items():
                t.dirty_codes[code] += k * len(p)
    t.injected_rows = rows.astype(np.int64)
