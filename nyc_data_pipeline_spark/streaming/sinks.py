"""Streaming sinks: foreachBatch done right (T2/T3/T5 fixes).

The reference's sink has three production bugs the engine corrects:

1. Double execution (spark_consumer.py:86-106): `batch_df.count()` then
   `.write` re-computes the whole batch.  Fix: persist once, or derive
   metrics from the write itself.
2. Non-durable checkpoints (`/tmp/checkpoints`, spark_consumer.py:130).
   Fix: caller-supplied durable checkpoint dir is a required argument.
3. At-least-once duplication into the sink with no idempotence
   (kafka_producer.py:27-29 retries + JDBC append).  Fix: epoch-keyed
   writes — each micro-batch lands under its epoch id, so replays of
   the same epoch overwrite instead of duplicating (the standard
   exactly-once-to-storage recipe for idempotent targets).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


class EpochIdempotentParquetSink:
    """foreachBatch target writing each epoch to its own subdirectory.

    Replayed epochs (after failure/restart from the same checkpoint)
    overwrite their previous partial output — idempotent, hence
    effectively exactly-once end-to-end when combined with a durable
    checkpoint.  Reads see only completed epochs (parquet write is
    atomic-per-directory via _SUCCESS)."""

    def __init__(self, base_path: str):
        self.base_path = base_path
        self.batches_seen: list[tuple[int, int]] = []

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.persist()
        try:
            n = batch_df.count()  # metrics pass over the cached batch
            if n == 0:  # empty-batch guard (spark_consumer.py:86-88)
                return
            (
                batch_df.write.mode("overwrite").parquet(
                    os.path.join(self.base_path, f"epoch={epoch_id}")
                )
            )
            self.batches_seen.append((epoch_id, n))
        finally:
            batch_df.unpersist()


def start_foreach_batch(
    stream_df: DataFrame,
    sink,
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
):
    """T1/T2/T3: micro-batch execution with a durable checkpoint.
    `trigger_seconds=None` means as-fast-as-possible (test mode);
    production passes the reference's 10 s cadence."""
    w = stream_df.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_seconds is not None:
        w = w.trigger(processingTime=f"{trigger_seconds} seconds")
    return w.start()


class JdbcEpochIdempotentSink:
    """foreachBatch → JDBC database with epoch-keyed idempotence — the
    reference's actual sink architecture (spark_consumer.py:86-106:
    micro-batch → Postgres `write.jdbc` append) with its at-least-once
    duplication bug fixed: every row lands tagged with its epoch id,
    and a replayed epoch DELETEs its previous attempt before
    re-inserting (delete+insert per epoch is the idempotent-append
    recipe for plain-SQL targets; with a MERGE-capable target the
    delete collapses into the upsert).  Runs against any JDBC engine —
    exercised for real on embedded Derby in tests/test_streaming.py.

    Scale notes: the DELETE is epoch-keyed (index the epoch column in
    production DDL); the insert path is sources/jdbc.write_jdbc with
    bounded connection fan-out; metrics come from the insert's own
    count, no double execution of the batch plan."""

    def __init__(
        self,
        url: str,
        table: str,
        properties: dict[str, str],
        column_types: str | None = None,
        num_partitions: int = 4,
    ):
        self.url = url
        self.table = table
        self.properties = properties
        self.column_types = column_types
        self.num_partitions = num_partitions
        self.batches_seen: list[tuple[int, int]] = []
        self._table_known = False  # memoized positive existence probe

    @staticmethod
    def _split_ident(part: str | None) -> tuple[str | None, bool]:
        """Strip one level of identifier quoting; report if quoted."""
        if part and len(part) >= 2 and part[0] == part[-1] and part[0] in ('"', "`"):
            return part[1:-1], True
        return part, False

    @classmethod
    def _table_exists(cls, conn, table: str) -> bool:
        """Engine-agnostic existence probe via DatabaseMetaData.

        The JDBC metadata API is the one portable answer — a SQLState
        allowlist would misclassify engines whose table-missing state
        isn't on the list (Oracle's generic 42000, drivers returning
        null states) and turn a benign first epoch into a permanently
        failing stream.  Probe details that matter:

        - getTables treats its arguments as LIKE patterns, so `_`/`%`
          in the identifier are escaped with the driver's search
          escape when one exists (Derby reports NONE — empty string),
          and every returned row is additionally confirmed by EXACT
          TABLE_NAME/TABLE_SCHEM comparison, so a wildcard can never
          fake a hit (`my_tbl` matching `my1tbl`) on any driver.
        - The schema part of a qualified name is passed as
          schemaPattern; an unqualified name probes the connection's
          CURRENT schema (the one the unqualified DELETE resolves in),
          falling back to all schemas only when getSchema is
          unsupported — a same-named table elsewhere must not count.
        - Quoted identifiers probe their exact case only; unquoted
          ones probe as-is/upper/lower (engines fold differently)."""
        meta = conn.getMetaData()
        try:
            esc = meta.getSearchStringEscape() or ""
        except Exception:
            esc = ""

        def like_escape(s: str | None) -> str | None:
            if s is None or not esc:
                return s  # no escape support: exact-confirm below
            return (
                s.replace(esc, esc + esc)
                .replace("_", esc + "_")
                .replace("%", esc + "%")
            )

        parts = table.split(".")
        schema, s_quoted = cls._split_ident(
            parts[-2] if len(parts) >= 2 else None
        )
        name, n_quoted = cls._split_ident(parts[-1])
        if schema is None:
            try:
                schema = conn.getSchema()  # where the DELETE resolves
                s_quoted = True  # metadata-exact: no case fan-out
            except Exception:
                schema = None  # JDBC < 4.1: probe across schemas
        name_cands = [name] if n_quoted else [name, name.upper(), name.lower()]
        schema_cands = (
            [schema]
            if schema is None or s_quoted
            else [schema, schema.upper(), schema.lower()]
        )
        seen = set()
        for sc in schema_cands:
            for nc in name_cands:
                if (sc, nc) in seen:
                    continue
                seen.add((sc, nc))
                rs = meta.getTables(None, like_escape(sc), like_escape(nc), None)
                try:
                    while rs.next():
                        if rs.getString("TABLE_NAME") != nc:
                            continue  # LIKE over-match, not our table
                        if sc is not None and rs.getString("TABLE_SCHEM") != sc:
                            continue
                        return True
                finally:
                    rs.close()
        return False

    def _delete_epoch(self, spark, epoch_id: int) -> None:
        jvm = spark._jvm
        conn = jvm.java.sql.DriverManager.getConnection(self.url)
        try:
            # First epoch: the table write_jdbc will create does not
            # exist yet — skip the delete.  Past that gate, ANY delete
            # failure (lock timeout, dropped connection) must abort
            # the batch: appending after a failed delete would
            # duplicate the replayed epoch's rows, defeating the
            # idempotence this class exists to provide.  Structured
            # Streaming retries the batch from the checkpoint on the
            # raised error.  The probe result is memoized once
            # positive — a table cannot un-exist under this sink, and
            # the metadata round trips shouldn't tax every epoch.
            if not self._table_known:
                if not self._table_exists(conn, self.table):
                    return
                self._table_known = True
            stmt = conn.createStatement()
            try:
                stmt.executeUpdate(
                    f'DELETE FROM {self.table} WHERE "epoch" = {int(epoch_id)}'
                )
            finally:
                stmt.close()
        finally:
            conn.close()

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import functions as F

        from ..sources.jdbc import write_jdbc

        batch_df.persist()
        try:
            if not batch_df.take(1):  # empty-batch guard, no full count
                return
            self._delete_epoch(batch_df.sparkSession, epoch_id)
            tagged = batch_df.withColumn(
                "epoch", F.lit(int(epoch_id)).cast("bigint")
            )
            write_jdbc(
                tagged,
                self.url,
                self.table,
                self.properties,
                mode="append",
                num_partitions=self.num_partitions,
                column_types=self.column_types,
            )
            self.batches_seen.append((int(epoch_id), batch_df.count()))
        finally:
            batch_df.unpersist()


class ZoneMapAppendSink:
    """foreachBatch → versioned APPEND commits on the zone-mapped
    table (sources/zonemap._zm_append): the streaming-lakehouse ingest
    shape — each micro-batch lands as new bucket files under the
    FROZEN v1 bounds, the manifest advances one version per epoch, and
    an EPOCH LEDGER (epoch id → committed version, swapped atomically
    alongside the manifests) makes replays no-ops: a re-delivered
    epoch finds itself in the ledger and commits nothing, so
    at-least-once delivery becomes exactly-once TABLE STATE — the
    parquet-sink idempotence recipe lifted to multi-version manifest
    commits.  Readers always see a complete version (manifest pointer
    swap), never a half-appended epoch."""

    def __init__(self, spark, table_dir: str):
        self.spark = spark
        self.table_dir = table_dir

    def _ledger_path(self) -> str:
        return os.path.join(self.table_dir, "epoch-ledger.json")

    def _read_ledger(self) -> dict:
        import json

        if os.path.exists(self._ledger_path()):
            with open(self._ledger_path()) as f:
                return json.load(f)
        return {}

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        from ..sources.zonemap import _zm_append

        ledger = self._read_ledger()
        if str(epoch_id) in ledger:
            return  # replayed epoch: already committed, do nothing
        if batch_df.isEmpty():
            return
        version = (max((int(v) for v in ledger.values()), default=1)) + 1
        _zm_append(self.spark, batch_df, self.table_dir, version)
        from ..manifest_log import atomic_json_dump

        ledger[str(epoch_id)] = version
        atomic_json_dump(ledger, self._ledger_path())
