"""Inputs. The program under test sees only what these functions stage. The
voting star and the vote events are generated from the seed, and the same
(seed, size, core count) stages the same rows; the registry sample reads
fixed test tables."""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd

from harness import spark_part_files

STAR_TABLES = ("candidate", "voter", "vote")


def stage_star(spark, root: str, n_voters: int, seed: int) -> list[str]:
    """Write ``generator.generate_star`` as parquet tables
    ``root/<name>.parquet``; return their data files.

    ``generate_star`` draws ``F.rand`` per partition and takes its partition
    count from ``defaultParallelism``, so the bytes depend on local[N] too;
    the digest key carries N for that reason."""
    from realtime_voting_system_spark.sources import generator

    tables = generator.generate_star(spark, n_voters=n_voters, seed=seed)
    files = []
    for name in STAR_TABLES:
        path = os.path.join(root, f"{name}.parquet")
        tables[name].write.mode("overwrite").parquet(path)
        files += spark_part_files(path)
    return files


def vote_event_batches(
    spark, n_batches: int, batch_size: int, dup_share: float, seed: int
):
    """Envelope-JSON vote events cut into micro-batch files.

    Events come from the generator's star and the program's envelope
    (``to_envelope`` keyed by ``vote_id``). They are published in event-time
    order and shuffled only inside a batch, so every batch starts at or after
    the previous batch's newest event and nothing falls behind the 10-minute
    watermark. A ``dup_share`` of each batch replays events: in the first
    batch, events of that batch; later, events of the previous batch from its
    last five minutes of event time, inside the dedup state's lifetime.

    Returns ``(lines, meta)``: per batch, the JSON lines of its file and a
    frame of (voter_id, candidate_id, candidate_name, party, address_state,
    replay) for the recount."""
    from pyspark.sql import functions as F

    from realtime_voting_system_spark.sources import generator
    from realtime_voting_system_spark.streaming import envelope

    n_dup = int(round(batch_size * dup_share))
    n_unique = batch_size - n_dup
    star = generator.generate_star(spark, n_voters=n_batches * n_unique, seed=seed)
    events = generator.vote_events(star["vote"], star["voter"], star["candidate"])
    env = envelope.to_envelope(events, "vote_id")
    cols = events.select(
        "voter_id", "candidate_id", "candidate_name", "party", "address_state",
        F.unix_seconds("voted_at").alias("t"), "vote_id",
    )
    pdf = (
        cols.join(env.withColumnRenamed("key", "vote_id"), "vote_id")
        .toPandas()
        .sort_values(["t", "vote_id"], ignore_index=True)
    )
    rng = np.random.default_rng(seed)
    lines, meta, prev = [], [], None
    for b in range(n_batches):
        cur = pdf.iloc[b * n_unique : (b + 1) * n_unique]
        if prev is None:
            pool = cur
        else:
            pool = prev[prev["t"] >= prev["t"].max() - 300]
        dups = pool.iloc[rng.integers(0, len(pool), n_dup)]
        batch = (
            pd.concat([cur.assign(replay=False), dups.assign(replay=True)])
            .sample(frac=1.0, random_state=int(rng.integers(1 << 31)))
            .reset_index(drop=True)
        )
        lines.append(
            [json.dumps({"key": k, "value": v}) for k, v in zip(batch.vote_id, batch.value)]
        )
        meta.append(batch.drop(columns=["value", "vote_id"]))
        prev = cur
    return lines, meta


# --- registry tables ------------------------------------------------------

# The sf0.001 test tables (TESTDATA.md: the deterministic TPC-H-like tables the
# registered queries and their DuckDB oracles are written against), as
# committed here: only the three the sampled queries read.
REGISTRY_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.001")
REGISTRY_TABLES = ("documents", "embeddings", "lineitem")


def stage_registry_tables(root: str) -> list[str]:
    """Copy the registry sample's tables to ``root/<name>.parquet``; return
    the copies' paths."""
    paths = []
    for name in REGISTRY_TABLES:
        path = os.path.join(root, f"{name}.parquet")
        shutil.copyfile(os.path.join(REGISTRY_DATA, f"{name}.parquet"), path)
        paths.append(path)
    return paths
