"""The three workloads. Each one stages its inputs, warms up, runs one
operation at a time (closed loop, one client) and checks its outputs."""

from __future__ import annotations

import contextlib
import io
import json
import os
import random
import statistics
import sys
import time

import duckdb
import pandas as pd

import harness
import inputs
from harness import log
from tests.oracle import assert_frames_match

# --- output comparison -------------------------------------------------------


def matches(actual: pd.DataFrame, expected: pd.DataFrame, name: str) -> bool:
    """The repository's oracle compare (``tests/oracle.py``) as a bool; the
    first mismatch is logged."""
    try:
        assert_frames_match(actual, expected, name)
    except AssertionError as exc:
        log(f"mismatch: {exc}")
        return False
    return True


def perturbed(df: pd.DataFrame) -> pd.DataFrame:
    """A copy of ``df`` with one value changed: the self-test's stand-in for
    a wrong result."""
    df = df.copy()
    num = [c for c in df.columns if df[c].dtype.kind in "iuf"]
    if num and len(df):
        df.loc[df.index[0], num[0]] += 1
    else:
        df = df.iloc[1:]
    return df


def duck(root: str, tables: tuple[str, ...]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        path = os.path.join(root, f"{t}.parquet")
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


class Workload:
    """What run.py calls. ``perturb`` makes the workload corrupt one result
    before checking it (the self-test's stand-in for a wrong answer)."""

    uses_generator = False  # staging runs ``sources.generator``
    perturb = False

    def __init__(self):
        self.drain_s: dict[int, float] = {}  # op -> untimed wait that still counts as busy
        self.batches: dict[int, dict] | None = None  # op -> stream progress records

    def stage(self, spark, root: str) -> None:
        """Write the inputs under ``root``."""
        raise NotImplementedError

    def digest(self) -> str:
        """Digest of the staged inputs."""
        raise NotImplementedError

    def warm_up(self, spark, tracer) -> float:
        """Untimed work before the first timed operation; returns the seconds
        of it spent checking results, which set-up time leaves out."""
        raise NotImplementedError

    def op(self, spark, tracer, i: int) -> int:
        """One timed operation; returns units done. Raises on failure."""
        raise NotImplementedError

    def stop(self, i: int, timed_out: bool) -> bool:
        """Whether the timed phase ends after ``i`` operations."""
        return timed_out

    def after_op(self, spark, i: int) -> bool:
        """Untimed check right after operation ``i``."""
        return True

    def verify(self, spark) -> dict[int, str]:
        """Untimed end-of-run checks: {op: message} per failed operation;
        op -1 is the warm-up or a check made once per run."""
        raise NotImplementedError

    def layers(self, tracer, ops: list[int]) -> dict[str, float]:
        """Per-layer numbers for the traced run."""
        raise NotImplementedError

    def close(self) -> None:
        """Stop what the workload started on the session."""


# --- dashboard_refresh --------------------------------------------------------


class DashboardRefresh(Workload):
    """The reference's serving surface: every refresh loads the star and
    fetches all 11 dashboard queries with ``toPandas()``. Read-only; all load
    on ``catalog``, ``plans.voting`` and per-query engine overhead."""

    uses_generator = True

    def __init__(self, seed: int, n_voters: int):
        super().__init__()
        self.seed, self.n_voters = seed, n_voters
        self.size = f"voters={n_voters}"
        self.frames: dict[int, dict[str, pd.DataFrame]] = {}

    def stage(self, spark, root):
        self.root = root
        self.files = inputs.stage_star(spark, root, self.n_voters, self.seed)

    def digest(self):
        return harness.digest_parquet(self.files)

    def _refresh(self, spark, tracer) -> dict[str, pd.DataFrame]:
        from realtime_voting_system_spark import catalog
        from realtime_voting_system_spark.plans.voting import VOTING_QUERIES

        with tracer.span("catalog.load"):
            t = {n: catalog.load_table(spark, self.root, n) for n in inputs.STAR_TABLES}
        out = {}
        for q, fn in VOTING_QUERIES.items():
            with tracer.span("voting.build"), tracer.span(f"voting.{q}.build"):
                df = fn(t)
            with tracer.span("voting.exec"), tracer.span(f"voting.{q}.exec"):
                out[q] = df.toPandas()
        return out

    def warm_up(self, spark, tracer) -> float:
        self.frames[-1] = self._refresh(spark, tracer)
        return 0.0

    def op(self, spark, tracer, i):
        self.frames[i] = self._refresh(spark, tracer)
        return 1

    def after_op(self, spark, i):
        if self.perturb and i == 0:
            frames = self.frames[i]
            frames["vq1_total_votes"] = perturbed(frames["vq1_total_votes"])
        return True

    def verify(self, spark):
        from realtime_voting_system_spark.plans.voting import VOTING_ORACLE_SQL

        con = duck(self.root, inputs.STAR_TABLES)
        oracle = {q: con.sql(sql).df() for q, sql in VOTING_ORACLE_SQL.items()}
        bad = {}
        for i, frames in self.frames.items():
            wrong = [q for q, want in oracle.items() if not matches(frames[q], want, q)]
            if wrong:
                bad[i] = f"refresh {i}: {', '.join(wrong)} differ from the DuckDB oracle"
        return bad

    def layers(self, tracer, ops):
        from realtime_voting_system_spark.plans.voting import VOTING_QUERIES

        out = {
            "catalog.load_s": tracer.median_per_op("catalog.load", ops),
            "voting.build_s": tracer.median_per_op("voting.build", ops),
            "voting.exec_s": tracer.median_per_op("voting.exec", ops),
        }
        for q in VOTING_QUERIES:
            out[f"voting.{q}.exec_s"] = tracer.median_per_op(f"voting.{q}.exec", ops)
        return out


# --- live_votes ---------------------------------------------------------------

_AGGS = ("votes_per_candidate", "turnout_by_location")


class LiveVotes(Workload):
    """The declared streaming layer: envelope JSON files → ``dedup_votes`` →
    both continuous aggregates, each its own query and checkpoint. One batch
    file in flight; an operation publishes it and waits for both queries to
    commit it."""

    uses_generator = True

    def __init__(self, seed: int, batch_size: int, n_batches: int, warm_batches: int,
                 dup_share: float = 0.05):
        super().__init__()
        self.seed, self.batch_size, self.n_batches = seed, batch_size, n_batches
        self.warm_batches, self.dup_share = warm_batches, dup_share
        self.size = f"batch={batch_size},batches={n_batches},dup={dup_share}"
        self.published = 0
        self.queries = {}
        self.progress_seen = {a: 0 for a in _AGGS}
        self.batches = {}  # op -> {query: progress of the batches it ran}
        self.check_failures: dict[int, str] = {}

    def stage(self, spark, root):
        self.root = root
        self.lines, self.meta = inputs.vote_event_batches(
            spark, self.n_batches, self.batch_size, self.dup_share, self.seed
        )
        self.pending = os.path.join(root, "pending")
        self.watch = os.path.join(root, "events")
        os.makedirs(self.pending)
        os.makedirs(self.watch)
        self.files = []
        for b, lines in enumerate(self.lines):
            self.files.append(os.path.join(self.pending, f"batch-{b:05d}.json"))
            with open(self.files[-1], "w") as f:
                f.write("\n".join(lines) + "\n")

    def digest(self):
        return harness.digest_files(self.files)

    def _start(self, spark):
        from realtime_voting_system_spark.schemas import VOTE_EVENT
        from realtime_voting_system_spark.streaming import envelope, jobs

        src = envelope.read_envelope_stream(spark, self.watch, VOTE_EVENT, max_files_per_trigger=1)
        dedup = jobs.dedup_votes(src)
        for a in _AGGS:
            self.queries[a] = jobs.start_to_memory(
                getattr(jobs, a)(dedup), f"bench_{a}",
                os.path.join(self.root, f"ckpt_{a}"),
                output_mode="complete", trigger={"processingTime": "0 seconds"},
            )

    def _publish_and_wait(self, tracer):
        b = self.published
        name = f"batch-{b:05d}.json"
        with tracer.span("stream.publish"):
            os.rename(os.path.join(self.pending, name), os.path.join(self.watch, name))
        self.published += 1
        for a in _AGGS:
            with tracer.span(f"stream.{a}.process"):
                self.queries[a].processAllAvailable()

    def _expected(self):
        seen = pd.concat(self.meta[: self.published]).drop_duplicates("voter_id")
        cand = (
            seen.groupby(["candidate_id", "candidate_name", "party"]).size()
            .rename("vote_count").reset_index()
        )
        state = seen.groupby("address_state").size().rename("turnout").reset_index()
        return {"votes_per_candidate": cand, "turnout_by_location": state}

    def _check(self, spark, i) -> str | None:
        """Record the batches committed since the last check. Cumulative
        counts must equal a recount of the distinct votes published so far,
        and no row may fall behind the watermark."""
        rec = {}
        for a, q in self.queries.items():
            new = [p for p in map(_progress, q.recentProgress)
                   if p["batchId"] >= self.progress_seen[a]]
            if new:
                self.progress_seen[a] = max(p["batchId"] for p in new) + 1
            rec[a] = new
        self.batches[i] = rec
        want = self._expected()
        for a in _AGGS:
            dropped = sum(s.get("numRowsDroppedByWatermark", 0)
                          for p in rec[a] for s in p["stateOperators"])
            if dropped:
                return f"{a}: {dropped} rows dropped by the watermark"
            got = spark.table(f"bench_{a}").toPandas()
            if self.perturb and i == 0:
                got = perturbed(got)
            if not matches(got, want[a], a):
                return f"{a} differs from the recount after {self.published} batches"
        return None

    def warm_up(self, spark, tracer) -> float:
        self._start(spark)
        check_s = 0.0
        for _ in range(self.warm_batches):
            self._publish_and_wait(tracer)
            self._drain()
            t0 = time.perf_counter()
            err = self._check(spark, -1)
            if err:
                self.check_failures[-1] = err
            check_s += time.perf_counter() - t0
        return check_s

    def op(self, spark, tracer, i):
        self._publish_and_wait(tracer)
        return self.batch_size

    def stop(self, i: int, timed_out: bool) -> bool:
        return timed_out or self.published >= self.n_batches

    def _drain(self, timeout_s: float = 5.0) -> float:
        """Wait until each query's last batch is the no-data batch that the
        watermark's advance triggers after a data batch (state eviction), so
        no batch overlaps the next operation. ``processAllAvailable`` usually
        returns after it already. Returns the seconds waited."""
        t0 = time.perf_counter()
        for q in self.queries.values():
            while time.perf_counter() - t0 < timeout_s:
                last = q.lastProgress
                if last is not None and last["numInputRows"] == 0:
                    break
                time.sleep(0.005)
        return time.perf_counter() - t0

    def after_op(self, spark, i):
        self.drain_s[i] = self._drain()
        err = self._check(spark, i)
        if err:
            self.check_failures[i] = err
        return err is None

    def verify(self, spark):
        return dict(self.check_failures)

    def close(self):
        for q in self.queries.values():
            q.stop()
        self.queries = {}

    def layers(self, tracer, ops):
        """Phase times sum every batch an operation ran: the data batch and
        the no-data batch that evicts dedup state after the watermark moves
        (``processAllAvailable`` returns only after both)."""

        def batches(i, data_only=False):
            return [p for a in _AGGS for p in self.batches.get(i, {}).get(a, [])
                    if p["numInputRows"] > 0 or not data_only]

        def per_op(fn):
            return statistics.median(sum(fn(p) for p in batches(i)) for i in ops)

        def dur(*keys):
            return lambda p: sum(p["durationMs"].get(k, 0) for k in keys) / 1e3

        dedup_in = dedup_new = 0
        for i in ops:
            for p in self.batches[i][_AGGS[0]]:
                dedup_in += p["numInputRows"]
                dedup_new += sum(s.get("numRowsUpdated", 0) for s in p["stateOperators"]
                                 if "dedup" in s.get("operatorName", "").lower())
        last = [self.batches[ops[-1]][a][-1] for a in _AGGS if self.batches[ops[-1]][a]]
        return {
            "stream.offsets_s": per_op(dur("latestOffset", "getBatch")),
            "stream.planning_s": per_op(dur("queryPlanning")),
            "stream.add_batch_s": per_op(dur("addBatch")),
            "stream.log_commit_s": per_op(dur("walCommit", "commitOffsets")),
            "state.commit_s": per_op(lambda p: sum(s.get("commitTimeMs", 0) for s in p["stateOperators"]) / 1e3),
            "stream.batches_per_op": statistics.mean(len(batches(i, data_only=True)) for i in ops) / len(_AGGS),
            "state.rows_total": float(sum(s.get("numRowsTotal", 0) for p in last for s in p["stateOperators"])),
            "state.memory_bytes": float(sum(s.get("memoryUsedBytes", 0) for p in last for s in p["stateOperators"])),
            "dedup.unique_ratio": dedup_new / dedup_in if dedup_in else 0.0,
        }


def _progress(p) -> dict:
    """A StreamingQueryProgress as plain JSON data."""
    return json.loads(p.json)


# --- registry_sample ----------------------------------------------------------

# One query per layer the registry reaches; see README.md for the queries
# left out and why.
REGISTRY_SAMPLE = (
    "dedup_minhash_lsh",  # operators.dedup
    "dedup_image_phash",  # operators.multimodal
    "text_tfidf",  # operators.textops
    "sim_ann_ivf",  # operators.similarity
    "g6_label_propagation",  # plans.graph_ops
    "st2_pyds_votes_per_candidate",  # sources.pyds
)


class _RetryCounter(io.TextIOBase):
    """stderr, passed through, counting the lines in which the registry's
    wrapper announces that it reruns a streaming gate."""

    MARK = "retrying once"

    def __init__(self, target):
        self.target, self.count = target, 0

    def write(self, s):
        self.count += s.count(self.MARK)
        return self.target.write(s)

    def flush(self):
        self.target.flush()


class RegistrySample(Workload):
    """Heavy registered operators (``plans.parity`` → ``operators.*``,
    ``plans.graph_ops``, ``sources.pyds``) on the sf0.001 test tables. An
    operation is one pass over the sample, each query being the registered
    call plus a ``noop`` write; the seed permutes the order of every pass.
    The warm-up pass fetches every query with ``toPandas()`` and compares it
    with its DuckDB oracle.

    A pass, not a query, is the operation: the median of unlike queries is
    whichever query happens to sort in the middle, and it flipped between two
    of them from run to run."""

    def __init__(self, seed: int, queries: tuple[str, ...] = REGISTRY_SAMPLE):
        super().__init__()
        self.seed, self.queries = seed, queries
        self.size = f"tables=sf0.001,q={len(queries)}"
        self.rng = random.Random(seed)
        self.wrong: list[str] = []
        self.passes = 0
        self.stderr = _RetryCounter(sys.stderr)

    def _permuted(self) -> list[str]:
        order = list(self.queries)
        self.rng.shuffle(order)
        return order

    def stage(self, spark, root):
        self.root = root
        self.files = inputs.stage_registry_tables(root)

    def digest(self):
        return harness.digest_files(self.files)

    def warm_up(self, spark, tracer) -> float:
        from realtime_voting_system_spark.plans import parity

        con = duck(self.root, inputs.REGISTRY_TABLES)
        oracle_s = 0.0
        for q in self._permuted():
            t0 = time.perf_counter()
            with contextlib.redirect_stderr(self.stderr):
                got = parity.QUERIES[q](spark, self.root).toPandas()
            log(f"warm-up {q}: {time.perf_counter() - t0:.2f} s")
            t0 = time.perf_counter()
            if self.perturb:
                got = perturbed(got)
            if not matches(got, con.sql(parity.ORACLE_SQL[q]).df(), q):
                self.wrong.append(q)
            oracle_s += time.perf_counter() - t0
        return oracle_s

    def op(self, spark, tracer, i):
        from realtime_voting_system_spark.plans import parity

        with contextlib.redirect_stderr(self.stderr):
            for q in self._permuted():
                with tracer.span("parity.call"), tracer.span(f"parity.{q}.call"):
                    df = parity.QUERIES[q](spark, self.root)
                with tracer.span("parity.action"), tracer.span(f"parity.{q}.action"):
                    df.write.format("noop").mode("overwrite").save()
        self.passes = i + 1
        return len(self.queries)

    def verify(self, spark):
        """A query that differed from its oracle fails every timed pass too:
        the timed call computes the same deterministic result."""
        if not self.wrong:
            return {}
        msg = f"differ from their DuckDB oracle: {', '.join(self.wrong)}"
        return {i: msg for i in range(-1, self.passes)}

    def layers(self, tracer, ops):
        out = {"parity.retries": float(self.stderr.count)}
        for q in self.queries:
            out[f"parity.{q}.call_s"] = tracer.median_per_op(f"parity.{q}.call", ops)
            out[f"parity.{q}.action_s"] = tracer.median_per_op(f"parity.{q}.action", ops)
        return out
