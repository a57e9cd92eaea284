"""The benchmark's workloads: one process, one client, a closed loop.

Both workloads repeat the same round until the time is up. A round
runs every kind of operation (build or copy, point and prefix lookup,
append, forget, compact), on a database in the same state each time,
so every round does the same work and every run reports every metric.
The workloads differ in their inputs and in which operation the round
spends its time on:

* ``build``: each round builds a fresh database three times from a
  duplicate-heavy wordlist with all nine algorithms (four of them run
  as Python/Arrow kernels) and keeps the last, with a few lookups and
  one append, forget and compaction;
* ``lifecycle``: set-up builds a 16-file md5+sha256 database; each
  round runs point hits, point misses and 3-byte prefix lookups on it,
  then appends, forgets and compacts a copy of it, each step verified
  by lookups.

Each op is one span (see :mod:`perfbench.tracing`); its duration is the
sample.
"""

from __future__ import annotations

import dataclasses
import itertools
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from perfbench import checks
from perfbench.inputs import Inputs, Sizes, generate
from perfbench.tracing import Span, Tracer
from shaha_spark.functions.digest_vectors import VECTOR_DIGESTS
from shaha_spark.functions.hashers import available_algorithms
from shaha_spark.pipeline.append import append_merge
from shaha_spark.pipeline.build import (
    build,
    dedup_words,
    hash_fanout,
    read_hashdb,
    sort_for_write,
    write_hashdb,
    write_sidecar,
)
from shaha_spark.pipeline.compact import compact_hashdb, plan_compaction
from shaha_spark.pipeline.forget import forget_digests, plan_forget
from shaha_spark.query import query
from shaha_spark.sources.file import file_source

ALL_ALGORITHMS = available_algorithms()
JVM_PAIR = ["md5", "sha256"]
PREFIX_BYTES = 3
PREFIX_LIMIT = 100
SETUP_REPS = 3  # set-up is repeated and its median reported
MIN_ROUNDS = 2  # timed rounds per run, at least
HASHER_SAMPLE = 20_000  # words hashed per algorithm in the traced probe
QUERY_PROBES = 10  # traced lookups of each kind
WARMUP_LOOKUP_ROUNDS = 4  # (hit, miss, prefix) lookups in the warm-up round
REFERENCE_ROWS = 300_000  # rows the reference job hashes


@dataclass(frozen=True)
class Workload:
    name: str
    algorithms: list[str]
    sizes: Sizes
    lookup_rounds: int  # (hit, miss, prefix) lookups per timed round
    builds_per_round: int  # fresh builds per round; with 0, set-up builds a base
    num_files: int | None = None  # build() option; None is the CLI default


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "build",
            ALL_ALGORITHMS,
            Sizes(distinct=6_000, repeats=3_000, batch_lines=600, forget=30,
                  vectors=True, queries=20),
            lookup_rounds=2,
            builds_per_round=3,
        ),
        Workload(
            "lifecycle",
            JVM_PAIR,
            Sizes(distinct=15_000, batch_lines=1_500, forget=100),
            lookup_rounds=5,
            builds_per_round=0,
            num_files=16,
        ),
    )
}


#: tiny inputs for the warm-up round
WARMUP = Sizes(distinct=2_000, batch_lines=400, forget=20, queries=5)


def live_bytes(db: Path) -> int:
    return sum(p.stat().st_size for p in db.glob("*.parquet"))


def lookup_key(kind: str, word: str, algorithm: str) -> tuple[bytes, str, int | None]:
    """(expected digest, hex query, limit) of a hit, miss or prefix lookup."""
    digest = checks.digest(algorithm, word)
    if kind == "prefix":
        return digest, digest[:PREFIX_BYTES].hex(), PREFIX_LIMIT
    return digest, digest.hex(), None


def noop(df: DataFrame) -> None:
    """Force every lazy step of ``df`` without writing anything."""
    df.write.format("noop").mode("overwrite").save()


class Bench:
    """State of one run: samples, check counts, and the ops that feed them."""

    def __init__(
        self, spark: SparkSession, work: Path, workload: Workload, seed: int,
        tracer: Tracer,
    ) -> None:
        self.spark = spark
        self.work = work
        self.wl = workload
        self.seed = seed
        self.tracer = tracer
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.phase_s: dict[str, float] = {}  # wall time of each phase
        self.attempted = 0
        self.failed = 0

    # ------------------------------------------------------------ checks

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"check failed: {what}", file=sys.stderr)

    def check_database(self, db: Path, where: str, **kwargs) -> None:
        results = checks.check_database(
            db, algorithms=self.wl.algorithms, seed=self.seed, **kwargs
        )
        for name, ok in results.items():
            self.check(ok, f"{where}: {name}")

    # --------------------------------------------------------------- ops

    def build(self, inputs: Inputs, db: Path) -> None:
        """A fresh build by the CLI build verb's path: file_source, then
        build(). Samples its speed and the database's size."""
        self.reference()
        with self.tracer.span("build") as span:
            src = file_source(self.spark, str(inputs.wordlist))
            summary = build(
                self.spark, src.words, self.wl.algorithms, str(db),
                source_name=src.name, source_hash=src.content_hash,
                num_files=self.wl.num_files,
            )
        self.reference()
        records = len(inputs.words) * len(self.wl.algorithms)
        self.check(summary["total_records"] == records, "build records")
        self.samples["build_s"].append(span.seconds)
        self.samples["db_bytes_per_record"].append(live_bytes(db) / records)

    def reference(self) -> None:
        """One run of the reference job beside an operation: a fixed
        Spark job on the same session that calls no shaha_spark code (a
        range of REFERENCE_ROWS, xxhash64, a global max, so one
        shuffle). The machine's speed at that moment moves it as it
        moves the operation next to it."""
        with self.tracer.span("reference") as span:
            self.spark.range(
                0, REFERENCE_ROWS, numPartitions=self.spark.sparkContext.defaultParallelism
            ).selectExpr("max(xxhash64(id))").collect()
        self.samples["reference_s"].append(span.seconds)

    def lookup(self, db: Path, kind: str, word: str, algorithm: str) -> None:
        """One query().collect(), checked against the expected digest:
        a hit returns its preimage, a miss nothing, a prefix its word."""
        digest, hex_query, limit = lookup_key(kind, word, algorithm)
        try:
            with self.tracer.span(f"lookup.{kind}") as span:
                rows = query(self.spark, str(db), hex_query, limit=limit).collect()
        except Exception:
            traceback.print_exc()
            self.check(False, f"lookup {kind} {hex_query} raised")
            return
        self.samples[f"lookup_{kind}"].append(span.seconds * 1000)
        if kind == "miss":
            ok = not rows
        elif kind == "hit":
            ok = any(
                r.preimage == word and r.algorithm == algorithm and bytes(r.hash) == digest
                for r in rows
            )
        else:
            ok = any(r.preimage == word for r in rows)
        self.check(ok, f"lookup {kind} {hex_query} for {word!r}")

    def lookups(self, db: Path, inputs: Inputs, rounds: int, first: int) -> None:
        """``rounds`` of one sha256 hit, one sha256 miss and one md5
        prefix, starting at target ``first``. With the known-answer
        preimages planted, one hit each for the four digests hashlib
        cannot check, through the query path."""
        if self.wl.sizes.vectors:
            vectors = list(VECTOR_DIGESTS)
            for k, algo in enumerate(checks.KNOWN_ANSWER_ALGORITHMS):
                self.lookup(db, "hit", vectors[(first + k) % len(vectors)], algo)
        n = len(inputs.hits)
        for r in range(first, first + rounds):
            self.reference()
            self.lookup(db, "hit", inputs.hits[r % n], "sha256")
            self.lookup(db, "miss", inputs.absent[r % n], "sha256")
            self.lookup(db, "prefix", inputs.hits[(r + n // 2) % n], "md5")

    def maintain(self, db: Path, inputs: Inputs) -> None:
        """Append the batch, forget, compact; lookups verify each step
        and the independent checks verify the result. ``db`` must hold
        exactly the main wordlist's records."""
        algos = self.wl.algorithms
        batch = inputs.batch
        records = len(inputs.words) * len(algos)
        before = live_bytes(db)
        self.reference()
        with self.tracer.span("append") as span:
            src = file_source(self.spark, str(batch.path))
            summary = build(
                self.spark, src.words, algos, str(db), source_name=src.name,
                source_hash=src.content_hash, append=True,
            )
        self.samples["append_s"].append(span.seconds)
        maintain_s = span.seconds
        records += len(batch.new) * len(algos)
        self.check(summary["total_records"] == records, "append records")
        # the batch's records at the database's bytes per record
        batch_bytes = (len(batch.new) + len(batch.overlap)) * before / len(inputs.words)
        self.samples["append_write_amp"].append(live_bytes(db) / batch_bytes)
        self.lookup(db, "hit", batch.new[0], "sha256")
        self.lookup(db, "hit", batch.overlap[0], "md5")

        forgotten = [checks.digest("sha256", w) for w in inputs.forget]
        with self.tracer.span("forget") as span:
            report = forget_digests(self.spark, str(db), forgotten)
        self.samples["forget_s"].append(span.seconds)
        maintain_s += span.seconds
        self.samples["forget_files_rewritten"].append(report["files_rewritten"])
        self.check(report["live_rows_deleted"] == len(forgotten), "forget rows deleted")
        self.lookup(db, "miss", inputs.forget[0], "sha256")

        with self.tracer.span("compact") as span:
            report = compact_hashdb(self.spark, str(db), force=True)
        self.samples["compact_s"].append(span.seconds)
        self.samples["maintain_s"].append(maintain_s + span.seconds)
        self.samples["compact_files_after"].append(report["files_after"])
        self.samples["compact_bytes_rewritten"].append(live_bytes(db))
        self.reference()
        self.lookup(db, "hit", inputs.hits[0], "sha256")
        self.lookup(db, "prefix", inputs.hits[1], "md5")

        self.check_database(
            db, "after maintenance",
            expected_rows=records - len(forgotten),
            overlaps=[(w, batch.path.name) for w in batch.overlap],
            forgotten=forgotten,
        )

    # ----------------------------------------------------------- phases

    def warm_up(self) -> None:
        """One untimed round on tiny inputs, so JIT compilation, codegen
        and Python worker start-up happen before timing. Lookup latency
        keeps falling over the first ~100 lookups of a process as the
        JVM compiles the query path, so the warm-up runs a fixed number
        of them: a fixed time would warm a slow machine less."""
        sizes = dataclasses.replace(WARMUP, vectors=self.wl.sizes.vectors)
        inputs = generate(self.work / "warmup", sizes, self.seed)
        base = None
        if not self.wl.builds_per_round:
            base = self.work / "warmup-base"
            self.build(inputs, base)
        shutil.rmtree(self.timed_round(inputs, base, 0, WARMUP_LOOKUP_ROUNDS))
        if base is not None:
            shutil.rmtree(base)

    def setup(self) -> tuple[Inputs, Path | None, float]:
        """Generate the inputs and, unless each round builds its own,
        build the database; repeated SETUP_REPS times. Returns the last
        inputs and database and the median repetition time."""
        reps, digests = [], set()
        base = None
        for r in range(SETUP_REPS):
            t0 = time.perf_counter()
            inputs = generate(self.work / f"inputs-{r}", self.wl.sizes, self.seed)
            if not self.wl.builds_per_round:
                if base is not None:
                    shutil.rmtree(base)
                base = self.work / f"base-{r}"
                self.build(inputs, base)
            reps.append(time.perf_counter() - t0)
            digests.add(tuple(sorted(inputs.sha256.items())))
        self.check(len(digests) == 1, "inputs identical on every set-up repetition")
        if base is not None:
            self.check_database(
                base, "base", expected_rows=len(inputs.words) * len(self.wl.algorithms)
            )
        return inputs, base, statistics.median(reps)

    def timed_round(
        self, inputs: Inputs, base: Path | None, i: int, lookup_rounds: int
    ) -> Path:
        """One round on a database in the same state as every other
        round's. Returns the database it maintained."""
        db = self.work / f"round-{i}"
        if base is None:
            # only the last build is kept; the others add build samples
            for k in range(self.wl.builds_per_round - 1):
                extra = self.work / f"round-{i}-build-{k}"
                self.build(inputs, extra)
                shutil.rmtree(extra)
            self.build(inputs, db)
        else:
            # the lookups read the base as set-up built it; the writes go
            # to a copy
            shutil.copytree(base, db)
        self.lookups(base or db, inputs, lookup_rounds, i * lookup_rounds)
        self.maintain(db, inputs)
        return db

    def run(self, seconds: float) -> tuple[Inputs, Path, float]:
        """Warm-up, set-up, the timed rounds. Returns the inputs, a
        database for the traced probe and the set-up time: the warm-up
        plus the median set-up repetition."""
        t0 = time.perf_counter()
        self.warm_up()
        warmup_s = self.phase_s["warmup"] = time.perf_counter() - t0
        self.samples.clear()
        self.tracer.spans.clear()
        t0 = time.perf_counter()
        inputs, base, setup_rep_s = self.setup()
        self.phase_s["setup"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        deadline = t0 + seconds
        db = None
        for i in itertools.count():
            if i >= MIN_ROUNDS and time.perf_counter() >= deadline:
                break
            if db is not None:
                shutil.rmtree(db)
            db = self.timed_round(inputs, base, i, self.wl.lookup_rounds)
        self.phase_s["timed"] = time.perf_counter() - t0
        return inputs, base or db, warmup_s + setup_rep_s

    # ----------------------------------------------------------- metrics

    def end_to_end(self, setup_s: float) -> dict[str, tuple[float, str]]:
        """Set-up time, bytes per record, and each timing as a multiple
        of the run's median reference job."""
        med = statistics.median
        s = self.samples
        ref = med(s["reference_s"])
        return {
            "setup_s": (setup_s, "s"),
            "db_bytes_per_record": (med(s["db_bytes_per_record"]), "B"),
            "build_rel": (med(s["build_s"]) / ref, "ratio"),
            "lookup_p50_rel": (med(self.pooled_lookups()) / 1000 / ref, "ratio"),
            "maintain_rel": (med(s["maintain_s"]) / ref, "ratio"),
        }

    def wall(self, inputs: Inputs) -> dict[str, tuple[float, str]]:
        """The timings behind the end-to-end ratios, in wall time."""
        med = statistics.median
        s = self.samples
        return {
            "wall.build_lines_per_s": (inputs.lines / med(s["build_s"]), "lines/s"),
            "wall.lookup_p50_ms": (med(self.pooled_lookups()), "ms"),
            "wall.maintain_s": (med(s["maintain_s"]), "s"),
            "reference.job_ms": (med(s["reference_s"]) * 1000, "ms"),
        }

    def pooled_lookups(self) -> list[float]:
        s = self.samples
        return s["lookup_hit"] + s["lookup_miss"] + s["lookup_prefix"]

    # ------------------------------------------------------------ trace

    def probe_layers(self, inputs: Inputs, db: Path) -> tuple[dict, list]:
        """Run each public step of the build, query, append, forget and
        compact paths on its own, forcing it with a noop write.

        Returns the metrics known now, and (metric, span name, counter,
        divisor) entries to fill from the event log once Spark stops.
        """
        query_metrics, later = self._probe_query(inputs, db)
        return {
            **self._probe_build(inputs),
            **query_metrics,
            **self._probe_maintenance(inputs, db),
        }, later

    def _probe_build(self, inputs: Inputs) -> dict[str, tuple[float, str]]:
        spark, t, algos = self.spark, self.tracer, self.wl.algorithms
        out = self.work / "probe-db"
        m: dict[str, tuple[float, str]] = {}
        with t.span("probe.file_source") as s_src:
            src = file_source(spark, str(inputs.wordlist))
        with t.span("probe.dedup") as s_dedup:
            unique = dedup_words(src.words).persist()
            noop(unique)
        n_unique = unique.count()
        sample = unique.limit(HASHER_SAMPLE).repartition(
            spark.sparkContext.defaultParallelism
        ).persist()
        n_sample = sample.count()
        for algo in ALL_ALGORITHMS:
            with t.span(f"probe.hasher.{algo}") as s:
                noop(hash_fanout(sample, [algo]))
            m[f"functions.hashers.{algo}_words_per_s"] = (n_sample / s.seconds, "words/s")
        sample.unpersist()
        # each step reads its input from the cache, so its span is its
        # self time
        with t.span("probe.fanout") as s_fan:
            records = hash_fanout(unique, algos).persist()
            noop(records)
        with t.span("probe.sort") as s_sort:
            ordered = sort_for_write(records, num_files=self.wl.num_files, dedup=True)
            ordered = ordered.persist()
            noop(ordered)
        with t.span("probe.write") as s_write:
            write_hashdb(ordered.withColumn("sources", F.array(F.lit(src.name))), str(out))
        n_records = ordered.count()
        for df in (ordered, records, unique):
            df.unpersist()
        with t.span("probe.sidecar") as s_side:
            write_sidecar(
                spark, str(out), total_records=n_records, algorithms=algos,
                sources=[src.name], source_hashes=[],
            )
        files = sorted(out.glob("*.parquet"))
        written = sum(f.stat().st_size for f in files)
        row_groups = sum(pq.ParquetFile(f).metadata.num_row_groups for f in files)
        shutil.rmtree(out)
        steps = (s_src, s_dedup, s_fan, s_sort, s_write, s_side)
        # the run's own builds of the same wordlist, each one plain call
        plain = statistics.median(s.seconds for s in t.named("build"))
        return m | {
            "sources.file_source_s": (s_src.seconds, "s"),
            "pipeline.build.dedup_s": (s_dedup.seconds, "s"),
            "pipeline.build.unique_ratio": (n_unique / inputs.lines, "ratio"),
            "pipeline.build.fanout_s": (s_fan.seconds, "s"),
            "pipeline.build.sort_s": (s_sort.seconds, "s"),
            "pipeline.build.write_s": (s_write.seconds, "s"),
            "pipeline.build.sidecar_s": (s_side.seconds, "s"),
            "pipeline.build.bytes_written": (written, "B"),
            "pipeline.build.files": (len(files), "count"),
            "pipeline.build.row_groups": (row_groups, "count"),
            "probe.step_overhead_frac": (
                sum(s.seconds for s in steps) / plain - 1, "ratio"
            ),
        }

    def _probe_query(self, inputs: Inputs, db: Path) -> tuple[dict, list]:
        t = self.tracer
        construct, collect, tasks, returned = [], [], [], defaultdict(int)
        for i in range(QUERY_PROBES):
            for kind, word, algo in (
                ("hit", inputs.hits[i], "sha256"),
                ("miss", inputs.absent[i], "sha256"),
                ("prefix", inputs.hits[-1 - i], "md5"),
            ):
                _, hex_query, limit = lookup_key(kind, word, algo)
                with t.span(f"probe.query.{kind}") as s_q:
                    df = query(self.spark, str(db), hex_query, limit=limit)
                with t.span(f"probe.collect.{kind}") as s_c:
                    rows = df.collect()
                construct.append(s_q.seconds * 1000)
                collect.append(s_c.seconds * 1000)
                tasks.append(t.tasks(s_c))
                returned[kind] += len(rows)
        m = {
            "query.construct_ms": (statistics.median(construct), "ms"),
            "query.collect_ms": (statistics.median(collect), "ms"),
            "query.tasks_per_lookup": (statistics.mean(tasks), "tasks"),
        }
        # rows examined per row returned; a miss returns none, so per lookup
        later = [
            ("query.rows_read_per_hit", "probe.collect.hit", "records_read",
             max(returned["hit"], 1)),
            ("query.rows_read_per_miss", "probe.collect.miss", "records_read",
             QUERY_PROBES),
            ("query.rows_read_per_prefix", "probe.collect.prefix", "records_read",
             max(returned["prefix"], 1)),
        ]
        return m, later

    def _probe_maintenance(self, inputs: Inputs, db: Path) -> dict[str, tuple[float, str]]:
        spark, t, med = self.spark, self.tracer, statistics.median
        batch = inputs.batch
        src = file_source(spark, str(batch.path))
        new = hash_fanout(dedup_words(src.words), self.wl.algorithms).withColumn(
            "sources", F.array(F.lit(src.name))
        )
        with t.span("probe.append_merge") as s_merge:
            noop(append_merge(read_hashdb(spark, str(db)), new))
        forgotten = [checks.digest("sha256", w) for w in inputs.forget]
        with t.span("probe.forget_plan") as s_forget:
            plan_forget(spark, str(db), forgotten)
        with t.span("probe.compact_plan") as s_compact:
            plan_compaction(spark, str(db))
        s = self.samples
        return {
            "query.hit_p50_ms": (med(s["lookup_hit"]), "ms"),
            "query.miss_p50_ms": (med(s["lookup_miss"]), "ms"),
            "query.prefix_p50_ms": (med(s["lookup_prefix"]), "ms"),
            "query.p90_ms": (statistics.quantiles(self.pooled_lookups(), n=10)[-1], "ms"),
            "pipeline.append.append_s": (med(s["append_s"]), "s"),
            "pipeline.forget.forget_s": (med(s["forget_s"]), "s"),
            "pipeline.compact.compact_s": (med(s["compact_s"]), "s"),
            "pipeline.append.merge_s": (s_merge.seconds, "s"),
            "pipeline.append.write_amp": (med(s["append_write_amp"]), "ratio"),
            "pipeline.forget.plan_s": (s_forget.seconds, "s"),
            "pipeline.forget.files_rewritten": (med(s["forget_files_rewritten"]), "count"),
            "pipeline.compact.plan_s": (s_compact.seconds, "s"),
            "pipeline.compact.bytes_rewritten": (med(s["compact_bytes_rewritten"]), "B"),
            "pipeline.compact.files_after": (med(s["compact_files_after"]), "count"),
        }


#: Spark task counters reported per call kind, with their units
CALL_COUNTERS = {
    "shuffle_write_bytes": "B",
    "shuffle_read_bytes": "B",
    "gc_ms": "ms",
    "executor_cpu_s": "s",
}
CALL_KINDS = ("build", "lookup", "append", "forget", "compact")


def from_event_log(
    tracer: Tracer, counters: dict[str, dict[str, float]], later: list
) -> dict[str, tuple[float, str]]:
    """Per-layer metrics that need the event log: the deferred probe
    entries, and each call kind's task counters averaged per call."""
    def total(spans: list[Span], counter: str) -> float:
        return sum(counters.get(s.group, {}).get(counter, 0.0) for s in spans)

    m = {
        name: (total(tracer.named(span_name), counter) / divisor, "rows")
        for name, span_name, counter, divisor in later
    }
    for kind in CALL_KINDS:
        spans = tracer.named(kind)
        for counter, unit in CALL_COUNTERS.items():
            m[f"spark.{kind}.{counter}"] = (total(spans, counter) / len(spans), unit)
    return m
