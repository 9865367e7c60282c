"""Stage D — graph materialization: canonical nodes + deduped triple edges,
snapshot-stamped, written to partitioned tables with upsert semantics.

Analogues: node upsert grouped by type (src/neo4j/saveNodes.ts:32-201),
versioned edge upsert keyed (relKey, snapshotVersion)
(src/neo4j/saveRelationships.ts:16-57), pre-write dedup
(relationshipBuilder.ts:943-953), dedup-merge of node attributes
(saveNodes.ts:86-104), snapshot stamp minted once per run on the driver
(src/index.ts:176 — N12 determinism across task retries).

Write layout (SURVEY.md §4.5): edges partitioned by ``pred``, nodes by
``type`` — partition pruning makes per-predicate queries (the dominant
access pattern of the query layer) scan only their slice at 100TB.
The sink is an interface: Iceberg ``MERGE INTO`` when a catalog is
configured, else a parquet MoR-style fallback (read existing ∪ new →
dedup by key → dynamic-partition overwrite) — same idempotent-replay
contract either way.
"""

from __future__ import annotations

import os
import shutil
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import pyspark.sql.functions as F
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions.ids import node_id_col, node_id_sql, stable_id_sql
from ..functions.route import local_frame
from .link import MENTION_NODE_KIND, turn_id_col, turn_id_sql


@dataclass(frozen=True)
class Table:
    """A stored table's columns (DDL; ids are BINARY(16), functions/ids.py),
    the key an upsert merges on and the column it is partitioned by."""

    columns: str
    key: tuple[str, ...]
    partition: str


# Every table the sink stores, declared once (the reference declares its
# node and edge constraints once, src/neo4j/connection.ts:17-53): reads
# take their schema from here, writes their key and partition column, and
# tests/test_materialize_ops.py pins the columns to the written files.
TABLES: dict[str, Table] = {
    "nodes": Table(
        "id BINARY, type STRING, name STRING, norm STRING, key STRING, "
        "first_conv STRING, first_turn INT, attrs MAP<STRING, STRING>, "
        "snapshot_version STRING",
        ("id",), "type",
    ),
    "edges": Table(
        "subj BINARY, pred STRING, obj BINARY, props MAP<STRING, STRING>, "
        "snapshot_version STRING",
        ("subj", "pred", "obj"), "pred",
    ),
    "link_registry": Table(
        "mtype STRING, path STRING, norm STRING, method STRING",
        ("mtype", "path", "norm", "method"), "mtype",
    ),
    "components": Table("id BINARY, comp BINARY, bucket STRING", ("id",), "bucket"),
    "metrics": Table(
        "snapshot_version STRING, stage STRING, partition_id INT, rows BIGINT, "
        "metric STRING",
        ("snapshot_version", "stage", "partition_id"), "stage",
    ),
    # the streaming sketches (streaming/sketches.py)
    "hll_registers": Table(
        "event_type STRING, idx BIGINT, reg INT", ("event_type", "idx"), "event_type"
    ),
    "cms_sketch": Table("row INT, col BIGINT, cell_n BIGINT", ("row", "col"), "row"),
}

# every table a ``run_pipeline`` scan stores (the stream stores all but
# ``metrics``)
GRAPH_TABLES = ("nodes", "edges", "link_registry", "components", "metrics")


def snapshot_stamp(spark: SparkSession) -> str:
    """One ISO stamp per run, minted on the driver (N12): deterministic
    across task retries because it is a plan-time literal, not a per-row
    ``current_timestamp()``."""
    return (
        spark.sql("SELECT date_format(current_timestamp(), \"yyyy-MM-dd'T'HH:mm:ss.SSSX\") v")
        .collect()[0][0]
    )


def build_nodes(
    transcripts: DataFrame, mentions: DataFrame, snapshot_version: str
) -> DataFrame:
    """Canonical node table: turn + conversation nodes from transcripts,
    typed mention nodes (entity/tool/config/error/url/resource) from
    mentions. Display name per node = modal surface (count desc, surface asc
    — A4/W1); first sighting = min (conv_id, turn_idx) lexicographic.

    ``attrs`` is the A2 dedup-merge (saveNodes.ts:86-104) done in the same
    per-(type, key) aggregation: a derive directive names an entity in the
    entity key space (MENTION_NODE_KIND), so an entity's lineage count
    ``n_derives`` (present only when above 0) is one more aggregate over
    its mentions, next to ``n_mentions``/``n_surfaces``."""
    turns = transcripts.select(
        turn_id_col(F.col("conv_id"), F.col("turn_idx")).alias("id"),
        F.lit("turn").alias("type"),
        F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")).alias("name"),
        F.lit(None).cast("string").alias("norm"),
        F.concat_ws("|", "conv_id", F.col("turn_idx").cast("string")).alias("key"),
        F.col("conv_id").alias("first_conv"),
        F.col("turn_idx").alias("first_turn"),
        # §1.4 attrs MAP<STRING,STRING> (reference meta, saveNodes.ts:11-30)
        F.expr(
            "map_from_entries(filter("
            "array(named_struct('k', 'role', 'v', role),"
            "      named_struct('k', 'tool', 'v', tool)),"
            " x -> x.v IS NOT NULL))"
        ).alias("attrs"),
    )
    convs = (
        transcripts.groupBy("conv_id")
        .agg(
            F.min("turn_idx").alias("first_turn"),
            F.count(F.lit(1)).alias("n_turns"),
        )
        .select(
            node_id_col("conv", F.col("conv_id")).alias("id"),
            F.lit("conversation").alias("type"),
            F.col("conv_id").alias("name"),
            F.col("conv_id").alias("norm"),
            F.col("conv_id").alias("key"),
            F.col("conv_id").alias("first_conv"),
            F.col("first_turn"),
            F.create_map(
                F.lit("n_turns"), F.col("n_turns").cast("string")
            ).alias("attrs"),
        )
    )

    m = mentions.filter(F.col("mtype") != "reply")
    kind = None
    for mt, (k, _key) in MENTION_NODE_KIND.items():
        kind = F.when(F.col("mtype") == mt, F.lit(k)) if kind is None else kind.when(
            F.col("mtype") == mt, F.lit(k)
        )
    key = F.when(F.col("mtype") == "url", F.col("path")).otherwise(F.col("norm"))
    typed = m.select(
        kind.alias("type"),
        key.alias("key"),
        F.col("norm"),
        F.col("surface"),
        F.col("conv_id"),
        F.col("turn_idx"),
        F.col("mtype"),
    )
    # first-sighting arg-min encoded as 'conv|zero-padded-turn' so plain MIN
    # is the lexicographic (conv_id, turn_idx) minimum — identical in DuckDB.
    first_key = F.concat_ws(
        "|", F.col("conv_id"), F.lpad(F.col("turn_idx").cast("string"), 9, "0")
    )
    counts = typed.groupBy("type", "key", "norm", "surface").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min(first_key).alias("first_k"),
        F.count_if(F.col("mtype") == "derive").alias("n_der"),
    )
    w = Window.partitionBy("type", "key").orderBy(F.desc("cnt"), F.asc("surface"))
    stats = [
        F.lit("n_mentions"), F.col("n_mentions").cast("string"),
        F.lit("n_surfaces"), F.col("n_surfaces").cast("string"),
    ]
    mention_nodes = (
        counts.withColumn("rn", F.row_number().over(w))
        .groupBy("type", "key")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("surface"))).alias("name"),
            F.min("norm").alias("norm"),
            F.min("first_k").alias("first_k"),
            F.sum("cnt").alias("n_mentions"),
            F.count(F.lit(1)).alias("n_surfaces"),
            F.sum("n_der").alias("n_derives"),
        )
        .select(
            F.unhex(F.md5(F.concat_ws("|", "type", "key"))).alias("id"),
            "type",
            "name",
            "norm",
            "key",
            F.split(F.col("first_k"), r"\|").getItem(0).alias("first_conv"),
            F.split(F.col("first_k"), r"\|").getItem(1).cast("int").alias("first_turn"),
            F.when(
                F.col("n_derives") > 0,
                F.create_map(
                    F.lit("n_derives"), F.col("n_derives").cast("string"), *stats
                ),
            )
            .otherwise(F.create_map(*stats))
            .alias("attrs"),
        )
    )

    return (
        turns.unionByName(convs)
        .unionByName(mention_nodes)
        .withColumn("snapshot_version", F.lit(snapshot_version))
    )


def node_attrs_cte() -> str:
    """DuckDB twin of the merged node attrs, in exploded (id, type, k, v)
    row form (map columns don't hash portably across engines; the exploded
    rows are the oracle-stable projection)."""
    kind_case = " ".join(
        f"WHEN '{mt}' THEN '{k}'" for mt, (k, _key) in MENTION_NODE_KIND.items()
    )
    return f"""node_attrs AS (
  WITH mstats AS (
    SELECT md5(concat_ws('|', type, key)) AS id, type,
           CAST(SUM(cnt) AS VARCHAR) AS n_mentions,
           CAST(COUNT(*) AS VARCHAR) AS n_surfaces
    FROM (
      SELECT CASE mtype {kind_case} END AS type,
             CASE WHEN mtype = 'url' THEN path ELSE norm END AS key,
             surface, COUNT(*) AS cnt
      FROM mentions WHERE mtype <> 'reply'
      GROUP BY 1, 2, 3
    ) GROUP BY type, key
  )
  SELECT {turn_id_sql('conv_id', 'turn_idx')} AS id, 'turn' AS type,
         'role' AS k, role AS v FROM transcripts
  UNION ALL
  SELECT {turn_id_sql('conv_id', 'turn_idx')}, 'turn', 'tool', tool
  FROM transcripts WHERE tool IS NOT NULL
  UNION ALL
  SELECT {node_id_sql('conv', 'conv_id')}, 'conversation', 'n_turns',
         CAST(COUNT(*) AS VARCHAR)
  FROM transcripts GROUP BY conv_id
  UNION ALL
  SELECT id, type, 'n_mentions', n_mentions FROM mstats
  UNION ALL
  SELECT id, type, 'n_surfaces', n_surfaces FROM mstats
  UNION ALL
  SELECT {node_id_sql('entity', 'norm')}, 'entity', 'n_derives',
         CAST(COUNT(*) AS VARCHAR)
  FROM mentions WHERE mtype = 'derive' GROUP BY norm
)"""


def nodes_cte() -> str:
    kind_case = " ".join(
        f"WHEN '{mt}' THEN '{k}'" for mt, (k, _key) in MENTION_NODE_KIND.items()
    )
    return f"""nodes AS (
  SELECT {turn_id_sql('conv_id', 'turn_idx')} AS id, 'turn' AS type,
         conv_id || '#' || CAST(turn_idx AS VARCHAR) AS name,
         CAST(NULL AS VARCHAR) AS norm,
         concat_ws('|', conv_id, CAST(turn_idx AS VARCHAR)) AS key,
         conv_id AS first_conv, turn_idx AS first_turn
  FROM transcripts
  UNION ALL
  SELECT {node_id_sql('conv', 'conv_id')}, 'conversation', conv_id, conv_id,
         conv_id, conv_id, MIN(turn_idx)
  FROM transcripts GROUP BY conv_id
  UNION ALL
  SELECT md5(concat_ws('|', type, key)) AS id, type,
         MAX(CASE WHEN rn = 1 THEN surface END) AS name,
         MIN(norm) AS norm,
         key,
         split_part(MIN(first_k), '|', 1) AS first_conv,
         CAST(split_part(MIN(first_k), '|', 2) AS INT) AS first_turn
  FROM (
    SELECT *, row_number() OVER (PARTITION BY type, key ORDER BY cnt DESC, surface ASC) AS rn
    FROM (
      SELECT CASE mtype {kind_case} END AS type,
             CASE WHEN mtype = 'url' THEN path ELSE norm END AS key,
             norm, surface, COUNT(*) AS cnt,
             MIN(concat_ws('|', conv_id, lpad(CAST(turn_idx AS VARCHAR), 9, '0'))) AS first_k
      FROM mentions WHERE mtype <> 'reply'
      GROUP BY 1, 2, 3, 4
    )
  ) u
  GROUP BY type, key
)"""


def build_edges(edge_families: list[DataFrame], snapshot_version: str) -> DataFrame:
    """Union the per-predicate edge families into the canonical edge table.

    Each family arrives as (subj, pred, obj, *extra-cols); extras fold into
    the ``props`` string map.

    No global dedup: every linking operator already guarantees uniqueness
    of (subj, pred, obj) within its family (dropDuplicates / groupBy /
    one-row-per-turn), and families cannot collide across preds — so the
    A1 dedup (relationshipBuilder.ts:943-953) would be a 3rd full shuffle
    of the triple set for nothing."""
    canon = []
    for df in edge_families:
        extra = [c for c in df.columns if c not in ("subj", "pred", "obj")]
        props = (
            F.map_from_arrays(
                F.array(*[F.lit(c) for c in extra]),
                F.array(*[F.col(c).cast("string") for c in extra]),
            )
            if extra
            else F.map_from_arrays(F.array().cast("array<string>"), F.array().cast("array<string>"))
        )
        canon.append(df.select("subj", "pred", "obj", props.alias("props")))
    union = canon[0]
    for df in canon[1:]:
        union = union.unionByName(df)
    return union.withColumn("snapshot_version", F.lit(snapshot_version))


# --------------------------------------------------------------------------
# Sink interface: Iceberg MERGE when available, parquet MoR fallback.
# --------------------------------------------------------------------------
class GraphSink:
    """Upsert sink for the ``TABLES`` catalog with the reference's
    idempotent-replay contract (stable ids ⇒ MERGE replay is a no-op).
    Callers name a table; its schema, key and partition column come from
    its catalog entry.

    On the parquet fallback a sink serves one frame per committed table
    version (see :meth:`read`): a table's version is its directory's
    identity, which every commit replaces, and a table read again that is
    small enough to broadcast is pinned in memory once, so a serving
    process plans each lookup over rows it already holds."""

    def __init__(self, spark: SparkSession, base_dir: str, use_iceberg: bool | None = None):
        self.spark = spark
        self.base_dir = base_dir
        if use_iceberg is None:
            use_iceberg = "spark.sql.catalog.kg" in {
                k for k, _ in spark.sparkContext.getConf().getAll()
            }
        self.use_iceberg = use_iceberg
        # table → (version, frame, settled): the frame :meth:`read` serves
        # for that version; settled once the pin gate has run
        self._held: dict[str, tuple[tuple[int, int], DataFrame, bool]] = {}

    def _path(self, table: str) -> str:
        return os.path.join(self.base_dir, table)

    def exists(self, table: str) -> bool:
        """True iff the table has been written (distinguishes 'first batch'
        from a read *failure* — streaming folds must not treat IO errors as
        an empty table, or they silently drop all accumulated state)."""
        if self.use_iceberg:
            return self.spark.catalog.tableExists(f"kg.{table}")
        path = self._path(table)
        return os.path.exists(path) and any(
            not f.startswith(("_", ".")) for f in os.listdir(path)
        )

    def commit(self, frames: dict[str, DataFrame]) -> None:
        """Upsert each frame of ``frames`` (table name → rows) on that
        table's ``TABLES`` key and partition column.

        The tables are disjoint and the frames share no read dependencies
        beyond what their builders pinned, so the upserts run CONCURRENTLY
        from one driver pool (guide §2.6 — overlap independent jobs):
        per-upsert driver latency (plan analysis + parquet commit +
        directory swap) dominates a micro-batch's fixed cost and overlaps
        almost fully. Crash contract: any subset of the tables may have
        committed when a batch dies mid-flight, and a replay re-MERGEs all
        of them idempotently (pinned by
        test_composed_stream_crash_resume_equals_one_shot)."""
        with ThreadPoolExecutor(max_workers=len(frames)) as pool:
            futures = [
                pool.submit(
                    self.upsert, df, t, list(TABLES[t].key), [TABLES[t].partition]
                )
                for t, df in frames.items()
            ]
            for f in futures:
                f.result()

    def upsert(self, df: DataFrame, table: str, keys: list[str], partition_by: list[str]):
        """Merge ``df`` into ``table`` by ``keys`` (new rows win): the
        primitive under :meth:`commit`, for any layout."""
        if self.use_iceberg:
            self._merge_iceberg(df, table, keys)
            return
        path = self._local_path(table)
        if self.exists(table):
            # the stored rows were written from frames of ``df``'s schema:
            # declaring it skips the parquet schema-inference job
            existing = self.spark.read.schema(df.schema).parquet(path)
            # new rows win on key collision (last-writer-wins by snapshot,
            # matching MERGE ... WHEN MATCHED THEN UPDATE semantics)
            merged = df.unionByName(existing.join(df.select(keys).distinct(), keys, "left_anti"))
        else:
            merged = df
        self._swap(merged, path, partition_by)

    def overwrite(self, df: DataFrame, table: str):
        """Replace every row of ``table`` with ``df`` (a delete is an
        overwrite with the kept rows). ``df`` may read the table itself: the
        parquet fallback writes it in full before the swap."""
        if self.use_iceberg:
            df.writeTo(f"kg.{table}").overwrite(F.lit(True))
            return
        self._swap(df, self._local_path(table), [TABLES[table].partition])

    def clear(self, table: str):
        """Delete every row of ``table``: ``DELETE FROM`` on a catalog
        table, the whole directory (after crash recovery, so no stale
        ``__old`` copy can come back) on the parquet fallback."""
        if self.use_iceberg:
            if self.exists(table):
                self.spark.sql(f"DELETE FROM kg.{table}")
            return
        shutil.rmtree(self._local_path(table), ignore_errors=True)

    def _local_path(self, table: str) -> str:
        """The parquet fallback's table directory, after recovering from a
        previous crashed swap: a leftover __old with no live table means
        the crash hit between the two renames, so it is restored; stale
        __tmp/__old dirs from killed runs are removed either way.

        The fallback is local-FS only (os.rename swap); an Iceberg catalog
        (use_iceberg) is the cluster path — on HDFS/S3 the MERGE branch must
        be used, so fail loudly rather than corrupt."""
        path = self._path(table)
        if "://" in path and not path.startswith("file:"):
            raise ValueError(
                f"GraphSink parquet fallback requires a local path, got {path}; "
                "configure an Iceberg catalog (spark.sql.catalog.kg) for object stores"
            )
        tmp, old = path + "__tmp", path + "__old"
        if os.path.exists(old) and not os.path.exists(path):
            os.rename(old, path)
        for stale in (tmp, old):
            if os.path.exists(stale):
                shutil.rmtree(stale)
        return path

    @staticmethod
    def _swap(df: DataFrame, path: str, partition_by: list[str]):
        """Write ``df`` to a temp dir, then rename it over ``path`` — the
        table is never missing, and ``df`` may read ``path`` itself."""
        tmp, old = path + "__tmp", path + "__old"
        df.repartition(*partition_by).write.mode("overwrite").partitionBy(
            *partition_by
        ).parquet(tmp)
        if os.path.exists(path):
            os.rename(path, old)
        try:
            os.rename(tmp, path)
        except BaseException:
            # restore the previous table so a failed swap is recoverable
            if os.path.exists(old) and not os.path.exists(path):
                os.rename(old, path)
            raise
        if os.path.exists(old):
            shutil.rmtree(old)

    def _merge_iceberg(self, df: DataFrame, table: str, keys: list[str]):
        # one view per call: concurrent upserts (the streaming fold's thread
        # pool) must not replace each other's source frame before the MERGE
        view = f"_updates_{uuid.uuid4().hex}"
        df.createOrReplaceTempView(view)
        on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
        try:
            self.spark.sql(
                f"MERGE INTO kg.{table} t USING {view} s ON {on} "
                "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
            )
        finally:
            self.spark.catalog.dropTempView(view)

    def read(self, table: str) -> DataFrame:
        """The stored ``table``. The parquet fallback declares its
        ``TABLES`` schema, so opening a table runs no schema-inference job
        and a partition column keeps its written type (an all-digit
        ``components.bucket`` stays STRING).

        The parquet fallback serves one frame per committed version. A
        version is the table directory's identity (inode and ctime), and
        every commit swaps in a new directory. The first read of a version
        keeps the opened frame (no job), so later reads skip the file
        listing and partition discovery. The second read pins it: when
        the table's bytes on disk are within the session's
        ``spark.sql.autoBroadcastJoinThreshold`` the frame is replaced by
        an eager ``localCheckpoint`` (one job), and every later read plans
        over those rows with no parquet scan; a larger table keeps the
        opened frame. Pinned rows are decoded, so they can take several
        times the table's bytes on disk in memory. A table within
        ``spark.sql.files.openCostInBytes`` on disk, the scan planner's
        smallest split size, is pinned as one partition (one
        in-memory block): one partition satisfies every grouping and
        ordering, so an aggregate or sorted lookup over such pinned frames
        plans no exchange and runs as one Spark job. A larger pinned table
        keeps the scan's partitions, so work over it stays parallel. A
        pinned frame outlives a commit: it keeps answering the version it
        was read at, where a lazy frame fails once the swap deletes its
        files. A catalog table is ``spark.table`` every time."""
        if self.use_iceberg:
            return self._open(table)
        version = self._version(table)
        held = self._held.get(table)
        if held is None or held[0] != version:
            self._held.pop(table, None)
            df = self._open(table)
            # a commit that raced the open must not be held under either
            # version: the next read opens the table again
            if version is not None and self._version(table) == version:
                self._held[table] = (version, df, False)
            return df
        _, df, settled = held
        if settled:
            return df
        conf = self.spark._jsparkSession.sessionState().conf()
        on_disk = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(self._path(table))
            for f in files
        )
        if on_disk <= conf.autoBroadcastJoinThreshold():
            if on_disk <= conf.filesOpenCostInBytes():
                df = df.coalesce(1)
            try:
                df = df.localCheckpoint(eager=True)
            except Py4JJavaError:
                # a commit deleted the files under the scan: serve the new
                # version instead
                if self._version(table) == version:
                    raise
                return self.read(table)
        self._held[table] = (version, df, True)
        return df

    def _open(self, table: str) -> DataFrame:
        if self.use_iceberg:
            return self.spark.table(f"kg.{table}")
        return self.spark.read.schema(TABLES[table].columns).parquet(self._path(table))

    def _version(self, table: str) -> tuple[int, int] | None:
        """The parquet table directory's identity, ``None`` when missing."""
        try:
            st = os.stat(self._path(table))
        except FileNotFoundError:
            return None
        return st.st_ino, st.st_ctime_ns

    def pinned(self, table: str) -> DataFrame | None:
        """The stored ``table`` opened afresh and checkpointed eagerly, so
        a batch's own later upsert cannot swap it under a lazy plan;
        ``None`` when the table was never written (the first batch). It
        neither uses nor leaves a frame held by :meth:`read`, so it runs
        its one checkpoint job whatever the table's size.
        Only :meth:`exists` decides "first batch": a read failure (an IO
        error, a corrupt file, a concurrent swap's rename window)
        propagates, so a fold never mistakes it for an empty table and
        overwrites the state it has accumulated."""
        if not self.exists(table):
            return None
        return self._open(table).localCheckpoint(eager=True)


def versioned_upsert_readback(transcripts: DataFrame) -> DataFrame:
    """S8/S9 END-TO-END versioned-sink gate: the reference's core
    persistence semantic is MERGE-by-stable-id with a ``snapshotVersion``
    stamped on every node and edge (src/neo4j/saveNodes.ts:137-158,
    saveRelationships.ts:28-44) — a later ingest updates matched ids in
    place (last-writer-wins, new stamp) and inserts new ids, while
    untouched rows keep their earlier stamp; queries then read the stored
    graph with both generations visible.

    This operator ACTUALLY EXECUTES that contract through the sink: it
    derives two deterministic batches from the corpus, runs
    ``GraphSink.upsert`` TWICE per table (nodes keyed by id, edges by
    (subj, pred, obj)) with stamps 'v1' then 'v2' — the second batch
    UPDATES the ids whose md5 gate is 0-7 (value changes n_turns → n_user)
    and ADDS new ids (gate 8-b, a 'convmeta' key space / a new predicate)
    — then reads the persisted tables back. The DuckDB twin computes the
    same final state in closed form: batch2 ∪ (batch1 anti-join batch2 on
    the key), which is exactly the fixpoint of two
    ``INSERT … ON CONFLICT (key) DO UPDATE`` statements.

    Result rows (tbl, k1, k2, val, snapshot_version): nodes as
    (hex id, name), edges as (hex subj, pred|hex obj); rows carry BOTH
    'v1' (untouched batch-1 survivors) and 'v2' (updated + inserted), so a
    hash match proves last-writer-wins per stable id AND that earlier-
    generation rows survive a later upsert untouched — end-to-end through
    the sink's write path, not a unit twin."""
    import tempfile

    spark = transcripts.sparkSession
    conv = (
        transcripts.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_turns"),
            F.count(F.when(F.col("role") == "user", F.lit(1)))
            .cast("long")
            .alias("n_user"),
        )
        .withColumn(
            "_g", F.substring(F.md5(F.col("conv_id").cast("binary")), 1, 1)
        )
        # referenced by all four batch builds — materialize once
        .localCheckpoint(eager=True)
    )
    cid = node_id_col("conv", F.col("conv_id"))
    mid = node_id_col("convmeta", F.col("conv_id"))
    stat_t = node_id_col("stat", F.lit("n_turns"))
    stat_u = node_id_col("stat", F.lit("n_user"))

    def nbatch(df, idc, valc, stamp):
        return df.select(
            idc.alias("id"),
            F.col("conv_id").alias("name"),
            F.col(valc).alias("val"),
            F.lit(stamp).alias("snapshot_version"),
        )

    def ebatch(df, predl, objc, valc, stamp):
        return df.select(
            cid.alias("subj"),
            F.lit(predl).alias("pred"),
            objc.alias("obj"),
            F.col(valc).alias("val"),
            F.lit(stamp).alias("snapshot_version"),
        )

    upd = conv.filter(F.col("_g") <= "7")
    new = conv.filter((F.col("_g") >= "8") & (F.col("_g") <= "b"))
    b1n = nbatch(conv, cid, "n_turns", "v1")
    b2n = nbatch(upd, cid, "n_user", "v2").unionByName(
        nbatch(new, mid, "n_turns", "v2")
    )
    b1e = ebatch(conv, "has-stat", stat_t, "n_turns", "v1")
    b2e = ebatch(upd, "has-stat", stat_t, "n_user", "v2").unionByName(
        ebatch(new, "has-user-stat", stat_u, "n_user", "v2")
    )

    out_schema = (
        "tbl string, k1 string, k2 string, val bigint, snapshot_version string"
    )
    # Empty corpus: nothing to upsert — an empty partitioned write would
    # leave a schemaless parquet dir and fail the read-back (the
    # empty-corpus robustness contract, tests/test_empty_corpus.py).
    if not conv.limit(1).count():
        return local_frame(spark, [], out_schema)

    base = tempfile.mkdtemp(prefix="kg_versioned_gate_")
    try:
        sink = GraphSink(spark, base)

        # The nodes chain and the edges chain touch disjoint tables; only
        # the v1→v2 order WITHIN each chain is semantic (the gate proves
        # last-writer-wins across two generations). Run the two chains
        # concurrently (guide §2.6): the gate's cost is four driver-latency-
        # bound upserts of dim-sized frames, and the chains overlap ~fully.
        def _nodes_chain() -> None:
            sink.upsert(b1n, "nodes", keys=["id"], partition_by=["snapshot_version"])
            sink.upsert(b2n, "nodes", keys=["id"], partition_by=["snapshot_version"])

        def _edges_chain() -> None:
            sink.upsert(
                b1e, "edges", keys=["subj", "pred", "obj"],
                partition_by=["snapshot_version"],
            )
            sink.upsert(
                b2e, "edges", keys=["subj", "pred", "obj"],
                partition_by=["snapshot_version"],
            )

        with ThreadPoolExecutor(max_workers=2) as pool:
            for f in [pool.submit(_nodes_chain), pool.submit(_edges_chain)]:
                f.result()
        # the gate's layouts are its own, not the ``TABLES`` ones: read the
        # files as written
        n = spark.read.parquet(os.path.join(base, "nodes")).select(
            F.lit("nodes").alias("tbl"),
            F.lower(F.hex(F.col("id"))).alias("k1"),
            F.col("name").alias("k2"),
            F.col("val"),
            F.col("snapshot_version"),
        )
        e = spark.read.parquet(os.path.join(base, "edges")).select(
            F.lit("edges").alias("tbl"),
            F.lower(F.hex(F.col("subj"))).alias("k1"),
            F.concat_ws("|", F.col("pred"), F.lower(F.hex(F.col("obj")))).alias("k2"),
            F.col("val"),
            F.col("snapshot_version"),
        )
        # materialize before deleting the sink dir the plan reads from
        return n.unionByName(e).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def versioned_readback_cte() -> str:
    """DuckDB twin of :func:`versioned_upsert_readback` — the closed form
    of the two-upsert history (INSERT … ON CONFLICT DO UPDATE ×2):
    final = batch2 ∪ (batch1 ▷ batch2) per table. Expects ``transcripts``."""
    cid = stable_id_sql("'conv'", "conv_id")
    mid = stable_id_sql("'convmeta'", "conv_id")
    stat_t = stable_id_sql("'stat'", "'n_turns'")
    stat_u = stable_id_sql("'stat'", "'n_user'")
    return f"""versioned AS (
  WITH conv AS (
    SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns,
           CAST(COUNT(CASE WHEN role = 'user' THEN 1 END) AS BIGINT) AS n_user,
           substr(md5(conv_id), 1, 1) AS g
    FROM transcripts GROUP BY conv_id
  ), b1n AS (
    SELECT {cid} AS k1, conv_id AS k2, n_turns AS val,
           'v1' AS snapshot_version
    FROM conv
  ), b2n AS (
    SELECT {cid} AS k1, conv_id AS k2, n_user AS val,
           'v2' AS snapshot_version
    FROM conv WHERE g <= '7'
    UNION ALL
    SELECT {mid}, conv_id, n_turns, 'v2' FROM conv WHERE g BETWEEN '8' AND 'b'
  ), b1e AS (
    SELECT {cid} AS sj, 'has-stat' AS pred, {stat_t} AS ob, n_turns AS val,
           'v1' AS snapshot_version
    FROM conv
  ), b2e AS (
    SELECT {cid} AS sj, 'has-stat' AS pred, {stat_t} AS ob, n_user AS val,
           'v2' AS snapshot_version
    FROM conv WHERE g <= '7'
    UNION ALL
    SELECT {cid}, 'has-user-stat', {stat_u}, n_user, 'v2'
    FROM conv WHERE g BETWEEN '8' AND 'b'
  ), nf AS (
    SELECT * FROM b2n
    UNION ALL
    SELECT * FROM b1n WHERE NOT EXISTS (
      SELECT 1 FROM b2n WHERE b2n.k1 = b1n.k1)
  ), ef AS (
    SELECT * FROM b2e
    UNION ALL
    SELECT * FROM b1e WHERE NOT EXISTS (
      SELECT 1 FROM b2e
      WHERE b2e.sj = b1e.sj AND b2e.pred = b1e.pred AND b2e.ob = b1e.ob)
  )
  SELECT 'nodes' AS tbl, k1, k2, val, snapshot_version FROM nf
  UNION ALL
  SELECT 'edges', sj, pred || '|' || ob, val, snapshot_version FROM ef
)"""
