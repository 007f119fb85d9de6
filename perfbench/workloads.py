"""The benchmark's workloads: input shape, the timed op and its check.

Each workload generates its input with ``gen.transcripts`` from the seed,
writes it as parquet, and exposes

- ``build()``: driver-side construction of the op's DataFrame (timed as
  compile_s);
- ``run(built)``: the action that forces it;
- ``check()``: the output check, outside the timed region. Per-code counts
  must equal the generator's record and, for a fixed sample of
  conversations, the row-local messages must equal
  ``plans.pyvalidator.validate`` byte for byte.
"""

from __future__ import annotations

import gc
import os
import time
from collections import Counter

import numpy as np

import gen

# the codes the cross-row checks and the vocabulary check emit; every other
# code is a row-local spec violation that pyvalidator also reports
CROSS_CODES = {"DuplicateKey", "TurnGap", "NonMonotonicTs", "BadFirstRole",
               "BadRoleTransition", "ToolResultWithoutCall",
               "ToolCallWithoutResult", "RefIntegrity"}

PIPELINE_SPEC = {
    "type": "object",
    "required": ["conv_id", "turn_idx", "role", "text"],
    "properties": {
        "role": {"type": "string", "enum": list(gen.ROLES)},
        "text": {"type": "string", "minLength": 1,
                 "maxLength": gen.MAX_TEXT, "pattern": "[0-9a-f]"},
        "turn_idx": {"type": "integer", "minimum": 0,
                     "maximum": gen.MAX_IDX},
    },
}

# the pipeline spec plus a tool enum: the ledger runner takes no
# vocabularies, so unknown tools are caught by the spec instead
LEDGER_SPEC = {**PIPELINE_SPEC, "properties": {
    **PIPELINE_SPEC["properties"], "tool": {"enum": list(gen.TOOLS)}}}

# message-heavy: every keyword renders the offending value into its message
DIRTY_SPEC = {
    "type": "object",
    "required": ["conv_id", "turn_idx", "role", "text"],
    "properties": {
        "conv_id": {"type": "string", "format": "uuid"},
        "turn_idx": {"type": "integer", "minimum": 0,
                     "maximum": gen.MAX_IDX},
        "role": {"type": "string", "enum": list(gen.ROLES)},
        "tool": {"type": "string", "enum": list(gen.TOOLS)},
        "text": {"type": "string", "minLength": 1,
                 "maxLength": gen.MAX_TEXT, "pattern": "[0-9a-f]"},
    },
}

SAMPLE_CONVS = 24
# input file size in turns, the same in every workload: the ledger probe
# reads one file
TURNS_PER_FILE = 25_000
# input files each warm-up op reads. The first op generates and compiles
# the code on little data; the ops on a quarter of the input after it warm
# the JIT, Catalyst's rules as much as the generated code, at about half
# the cost of ops on the whole input
WARMUP_FILES = (2, 12, 12, 12, 12)


def force(df) -> None:
    """Execute the whole plan, every column, with no sink cost."""
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class Workload:
    name = ""
    spec: dict = {}
    # about 1 s of an op is driver-side plan building whatever the input
    # size: inputs are as large as the time budget allows, so that the
    # action is most of the op
    n_turns = 0
    gen_args: dict = {}

    def __init__(self, spark, seed: int, workdir: str) -> None:
        self.spark = spark
        self.seed = seed
        self.workdir = workdir
        self.input_dir = os.path.join(workdir, "input")
        self.df = None
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    def setup(self) -> None:
        """Generate the input, write it, keep what the check needs and
        load it as ``self.df``. ``gen_s`` is the benchmark's own share:
        generation, the parquet write and the check's expectations. The
        generated columns are dropped: millions of live Python strings
        would slow every garbage collection in the driver's own plan
        building."""
        t0 = time.monotonic()
        t = gen.transcripts(self.seed, self.n_turns, **self.gen_args)
        t.write_parquet(self.input_dir, self.n_turns // TURNS_PER_FILE)
        self.turns = len(t)
        self.want = self.expected(t)
        self.sample = self._sample(t)
        del t
        gc.collect()
        self.gen_s = time.monotonic() - t0
        self.df = self.spark.read.parquet(self.input_dir)

    def warmup(self) -> None:
        """Load classes, generate code and warm the JIT before timing."""
        full = self.df
        try:
            for n in WARMUP_FILES:
                self.df = self.read_files(n)
                self.run(self.build())
        finally:
            self.df = full

    def read_files(self, n: int):
        """The first ``n`` input files as a DataFrame."""
        files = sorted(os.listdir(self.input_dir))[:n]
        return self.spark.read.parquet(
            *[os.path.join(self.input_dir, f) for f in files])

    def build(self):
        raise NotImplementedError

    def run(self, built) -> None:
        force(built)

    def expected(self, t: gen.Transcripts) -> Counter:
        raise NotImplementedError

    # -- output check -------------------------------------------------
    def _sample(self, t: gen.Transcripts) -> dict:
        """Conversation id -> its rows as JSON instances, for the
        conversations of the first ``SAMPLE_CONVS`` injections."""
        convs = {t.conv_id[p] for p in t.injected_rows[:SAMPLE_CONVS]}
        sample = {c: [] for c in convs}
        for p in np.flatnonzero(np.isin(t.conv_id, list(convs))):
            sample[t.conv_id[p]].append({k: v for k, v in (
                ("conv_id", t.conv_id[p]), ("turn_idx", int(t.turn_idx[p])),
                ("role", t.role[p]), ("text", t.text[p]),
                ("tool", t.tool[p])) if v is not None})
        return sample

    def check(self) -> list[str]:
        """Problems found in the op's output; empty when it is correct.
        One action returns the per-code counts and the sampled rows."""
        from pyspark.sql import functions as F
        from json_schema_rs_spark.plans.pyvalidator import validate
        from json_schema_rs_spark.plans.spec import parse_spec

        convs = sorted(self.sample)
        sampled = (F.col("conv_id").isin(convs)
                   & ~F.col("code").isin(sorted(CROSS_CODES)))
        rows = (self.build().groupBy("code").agg(
            F.count(F.lit(1)).alias("n"),
            F.collect_list(F.when(sampled, F.struct(
                "conv_id", "turn_idx", "instance_path", "code",
                "message"))).alias("sample")).collect())
        got = Counter({r["code"]: r["n"] for r in rows})
        problems = [f"code {c}: got {got[c]}, expected {self.want[c]}"
                    for c in sorted(set(got) | set(self.want))
                    if got[c] != self.want[c]]
        root = parse_spec(self.spec)
        want = sorted((i["conv_id"], i["turn_idx"], v.path, v.code, v.message)
                      for rs in self.sample.values() for i in rs
                      for v in validate(root, i))
        have = sorted(tuple(x) for r in rows for x in r["sample"])
        if have != want:
            problems.append(
                f"messages differ on the {len(convs)} sampled conversations: "
                f"{len(have)} rows, expected {len(want)}; first differences "
                f"{sorted(set(have) ^ set(want))[:3]}")
        return problems


class FusedProtocol(Workload):
    name = "fused_protocol"
    spec = PIPELINE_SPEC
    n_turns = 1_200_000
    gen_args = {"inject_frac": 0.01}

    def build(self):
        from json_schema_rs_spark.operators import pipeline
        return pipeline.transcript_pipeline(
            self.df, self.spec, vocabularies={"tool": list(gen.TOOLS)},
            role_protocol=gen.PROTOCOL, tool_pairing=True)

    def expected(self, t: gen.Transcripts) -> Counter:
        return gen.expected_codes(t, tool_code="RefIntegrity")


class RowlocalDirty(Workload):
    name = "rowlocal_dirty"
    spec = DIRTY_SPEC
    n_turns = 1_200_000
    gen_args = {"dirty_frac": 0.4}

    def build(self):
        from json_schema_rs_spark.operators.runner import ValidationEngine
        return ValidationEngine(self.spec).validate(self.df).violations

    def expected(self, t: gen.Transcripts) -> Counter:
        return gen.expected_codes(t, cross=False)


# two chunks: the ledger's cost is per Spark job, and a traced run must
# stay well inside its time limit
N_BUCKETS = 8
BUCKETS_PER_CHUNK = 4
N_CHUNKS = -(-N_BUCKETS // BUCKETS_PER_CHUNK)


def checkpointed_run(spark, source, out_dir: str) -> None:
    """The ledger op: 8 buckets in 4-bucket chunks, with the cross-row
    protocol checks and every row routed to a clean or quarantine split."""
    from json_schema_rs_spark.sources import ledger
    ledger.run_checkpointed_validation(
        spark, source, LEDGER_SPEC, out_dir, run_id="bench",
        n_buckets=N_BUCKETS, buckets_per_chunk=BUCKETS_PER_CHUNK,
        table_checks=True, role_protocol=gen.PROTOCOL, tool_pairing=True,
        route_rows=True)


def chunk_seconds(spark, out_dir: str) -> list[float]:
    """Per-chunk wall times the ledger in ``out_dir`` recorded."""
    from pyspark.sql import functions as F
    rows = (spark.read.parquet(os.path.join(out_dir, "ledger"))
            .groupBy((F.col("bucket") / BUCKETS_PER_CHUNK).cast("int"))
            .agg(F.sum("wall_time_sec").alias("s")).collect())
    return [r["s"] for r in rows]


WORKLOADS = {w.name: w for w in (FusedProtocol, RowlocalDirty)}
