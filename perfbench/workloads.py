"""The workloads. Each one builds its starting state (set-up), runs its
timed phase for ``seconds``, and leaves the lake for the output checks.

Every call into the program goes through its public entry points:
``session.get_spark``, ``BlockIngest`` (``run_blockfiles_stream``,
``run_stream``, ``compact``, ``read_table``, ``read_inventory``,
``stats_inventory``) and ``operators.activity.actor_activity``. Both
workloads ingest with inventories and CDC stats on, so every batch also
runs ``operators.cdc_view`` (``ChangelogAggregateView.catch_up``). Inputs
reach the program only as generated files.
"""

from __future__ import annotations

import json
import os
import random
import time
from dataclasses import dataclass, field

import checks
from gen import Generator, Shape
from procs import host_steal, steal_pct, tree_cpu_s
from spans import Tracer

# 1000 gateways and accounts: inventories ~10x a tip batch's updates, so a
# merge that rewrites the whole state shows its cost next to the batch's own
# rows. (Every run pays a cold first batch; 10^4 keys make it ~9 s longer
# on 4 cores, which the run budget of two workloads cannot carry.) Tip
# archives hold 2 light blocks, as a follower sees them at the tip.
TIP_SHAPE = Shape(txns_per_block=(20, 60), blocks_per_archive=2, n_accounts=1000, n_gateways=1000)
# The read lake: the same key space plus 20 blocks of 100-200 txns of
# history, so activity pages return real rows and most reward windows hold
# the epoch rewards_v1 of block 15 (one reward per gateway and reward type
# earned in blocks 2-15).
API_SHAPE = Shape(txns_per_block=(100, 200), blocks_per_archive=20, n_accounts=1000, n_gateways=1000)
# the tables the API reads; set-up compacts them
API_TABLES = ("transactions", "transaction_actors", "rewards")
# The client cycles through this fixed pattern, one request of each kind,
# and the timed phase ends on a whole cycle, so every run sends the same
# mix whatever its length; the seed picks each request's keys. The even
# split is an assumption, not taken from a measured API trace.
API_PATTERN = ("lookup", "rewards", "activity", "stats", "sql")


@dataclass
class Result:
    setup_s: float = 0.0  # CPU time of the process tree during set-up
    setup_wall_s: float = 0.0
    op_ms: list = field(default_factory=list)  # per-op latency, timed phase
    items: int = 0  # blocks or requests completed in the timed phase
    busy_s: float = 0.0  # wall time the timed phase spent in the program
    # CPU time of the process tree in the timed phase, JIT compilation
    # excluded (``jit_s``): the JVM is still compiling hot code paths
    # during the first batches, which a long-running follower no longer
    # pays for, and how much it compiles in one batch varies from run to run
    cpu_s: float = 0.0
    jit_s: float = 0.0
    setup_jit_s: float = 0.0
    steal_pct: float = 0.0  # share of the host's CPU time stolen by other guests, timed phase
    input_bytes: int = 0
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    extra: dict = field(default_factory=dict)


class Workload:
    def __init__(self, root: str, seed: int, seconds: float, tracer: Tracer):
        self.root = root
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.inbox = os.path.join(root, "inbox")
        self.lake = os.path.join(root, "lake")
        self.res = Result()

    def session(self):
        from blockchain_etl_spark.session import get_spark

        with self.tracer.span("session.get_spark", "session"):
            spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def ingest(self):
        from blockchain_etl_spark.streaming.ingest import BlockIngest

        return BlockIngest(self.lake, maintain_inventories=True, maintain_stats=True)

    def start_setup(self) -> None:
        self._setup0 = (time.time(), tree_cpu_s())

    def end_setup(self) -> None:
        t0, (cpu0, jit0) = self._setup0
        cpu, jit = tree_cpu_s()
        self.res.setup_s, self.res.setup_jit_s = cpu - cpu0, jit - jit0
        self.res.setup_wall_s = time.time() - t0

    def start_measure(self) -> None:
        self.tracer.phase = "measure"
        self._measure0 = (tree_cpu_s(), host_steal())

    def end_measure(self) -> None:
        (cpu0, jit0), steal0 = self._measure0
        cpu, jit = tree_cpu_s()
        self.res.jit_s = jit - jit0
        self.res.cpu_s = cpu - cpu0 - self.res.jit_s
        self.res.steal_pct = steal_pct(steal0, host_steal())

    def check_lake(self, spark, ing, gen: Generator) -> None:
        stats = [r.asDict() for r in ing.stats_inventory(spark).collect()]
        self.res.errors += checks.check_lake(self.lake, gen.expected, ing.sync_height(), stats)
        self.res.input_bytes = gen.expected.input_bytes


class TipFollow(Workload):
    """A chain-tip follower: set-up ingests a genesis lake holding every
    gateway and account; the timed phase lands one light archive per
    follower trigger and runs ``run_blockfiles_stream`` until it is
    consumed, for ``seconds``."""

    def follow(self, spark, ing, gen: Generator, blocks: list[dict]) -> float:
        gen.write(self.inbox, blocks)
        t = time.time()
        with self.tracer.span("bench.follow", "bench"):
            ing.run_blockfiles_stream(spark, self.inbox)
        return time.time() - t

    def run(self) -> None:
        self.start_setup()
        spark = self.session()
        gen = Generator(self.seed, TIP_SHAPE)
        ing = self.ingest()
        self.follow(spark, ing, gen, gen.genesis())
        self.end_setup()

        self.start_measure()
        t_start = time.time()
        while time.time() - t_start < self.seconds:
            blocks = gen.archive()
            self.res.busy_s += self.follow(spark, ing, gen, blocks)
            self.res.attempted += 1
            self.res.items += len(blocks)
        self.end_measure()
        # foreachBatch commit latency of every timed batch
        self.res.op_ms = [(s.end - s.start) * 1000 for s in self.tracer.named("ingest.process_batch", "measure")]
        if len(self.res.op_ms) != self.res.attempted:
            self.res.errors.append(f"{self.res.attempted} archives landed, {len(self.res.op_ms)} batches ran")

        self.tracer.phase = "check"
        self.check_lake(spark, ing, gen)
        self.res.failed = self.res.attempted if self.res.errors else 0
        spark.stop()


class ApiReads(Workload):
    """One client in a closed loop (the next request is sent when the
    previous answer arrived) against a lake that set-up ingests through
    the CLI ``ingest --inventories`` path and compacts."""

    def run(self) -> None:
        from blockchain_etl_spark.sources.blockchain import SCHEMAS

        self.start_setup()
        spark = self.session()
        gen = Generator(self.seed, API_SHAPE)
        ing = self.ingest()
        gen.write_parquet(self.inbox, gen.genesis() + gen.archive())
        with self.tracer.span("bench.ingest", "bench"):
            ing.run_stream(spark, self.inbox, SCHEMAS["transactions"])
        before = lake_files(self.lake)
        with self.tracer.span("bench.compact", "bench"):
            for name in API_TABLES:
                ing.compact(spark, name)
        self.res.extra.update({"compact.files_before": before, "compact.files_after": lake_files(self.lake)})
        ing.read_table(spark, "transactions").createOrReplaceTempView("transactions")
        rng = random.Random(self.seed)

        def next_request(kind: str) -> dict:
            lo = rng.randrange(1, gen.expected.tip)
            return {
                "kind": kind,
                "gateway": f"gw{rng.randrange(API_SHAPE.n_gateways):07d}",
                "account": rng.choice(gen.reward_accounts),
                "lo": lo,
                "hi": min(gen.expected.tip, lo + 20),
            }

        # one request of each kind warms the read plans before timing
        for kind in API_PATTERN:
            request(spark, ing, next_request(kind))
        self.end_setup()

        answers = []
        self.start_measure()
        t_start = time.time()
        while time.time() - t_start < self.seconds or len(answers) % len(API_PATTERN):
            req = next_request(API_PATTERN[len(answers) % len(API_PATTERN)])
            t = time.time()
            with self.tracer.span(f"api.{req['kind']}", "bench"):
                rows = request(spark, ing, req)
            dt = time.time() - t
            self.res.op_ms.append(dt * 1000)
            self.res.busy_s += dt
            answers.append((req, rows))
        self.end_measure()
        self.res.attempted = self.res.items = len(answers)

        self.tracer.phase = "check"
        self.check_lake(spark, ing, gen)
        bad = checks.check_answers(self.lake, answers)
        # a wrong lake fails every request; otherwise each wrong answer does
        self.res.failed = self.res.attempted if self.res.errors else len(bad)
        self.res.errors += bad[:5]
        spark.stop()


def request(spark, ing, req: dict) -> list[dict]:
    """One API request through the program's read entry points."""
    from pyspark.sql.functions import col

    from blockchain_etl_spark.operators import activity

    kind = req["kind"]
    if kind == "lookup":
        df = ing.read_inventory(spark, "gateways").filter(col("address") == req["gateway"])
    elif kind == "activity":
        df = activity.actor_activity(
            ing.read_table(spark, "transactions"), ing.read_table(spark, "transaction_actors")
        ).filter(col("actor") == req["account"])
    elif kind == "stats":
        df = ing.stats_inventory(spark)
    elif kind == "rewards":
        df = (
            ing.read_table(spark, "rewards")
            .filter((col("account") == req["account"]) & col("block").between(req["lo"], req["hi"]))
            .select("block", "transaction_hash", "gateway", "amount", "type")
        )
    else:
        df = spark.sql(
            f"SELECT type, count(*) AS n FROM transactions "
            f"WHERE block BETWEEN {req['lo']} AND {req['hi']} GROUP BY type"
        )
    return [r.asDict() for r in df.collect()]


def lake_files(lake: str) -> int:
    return sum(1 for _, _, files in os.walk(lake) for f in files if f.endswith(".parquet"))


def lake_bytes(lake: str) -> tuple[int, int]:
    """(all bytes on disk under the lake, bytes held by retained
    non-current ``v=<n>`` inventory versions)."""
    total = retained = 0
    for dirpath, _, files in os.walk(lake):
        size = sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        total += size
        parent, leaf = os.path.split(dirpath)
        if leaf.startswith("v=") and parent.endswith("_inventory"):
            try:
                with open(os.path.join(parent, "_current.json")) as f:
                    current = f"v={int(json.load(f)['version'])}"
            except (OSError, ValueError, KeyError):
                current = None
            if leaf != current:
                retained += size
    return total, retained


WORKLOADS = {"tip_follow": TipFollow, "api_reads": ApiReads}
