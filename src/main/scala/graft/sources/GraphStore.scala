package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.graph.GraphView

/** Materialized graph storage — the Spark-native analog of the
  * reference's partitioned file store (reference: FileStore.fs routes
  * nodes to murmur3-hash partitions, Types.fs:23-24, and rebuilds them
  * through a per-partition index, NodeAttrIndex.cs). Here the same role
  * is played by BUCKETED tables: `nodes_attrs` bucketed+sorted by `id`,
  * `edges` bucketed by `src_id` (Spark's HashPartitioning is murmur3 —
  * the identical routing function).
  *
  * What bucketing buys at 100 TB:
  *  - point lookups (`get <id>`) filter a LITERAL id column → the
  *    predicate pushes to the parquet scan AND prunes to one bucket
  *    (the derived view's computed-id column can't push anything);
  *  - traversal hops and id-equality joins co-locate on the bucket
  *    hash — no shuffle on the stored side (proven in ScaleSpec);
  *  - the sorted-by-id layout keeps a node's attribute rows adjacent,
  *    the same locality the reference gets from grouping fragments.
  *
  * Materialization happens once per (session, dir) on first use. Puts
  * never rewrite the store: the Engine keeps its puts as rows of one
  * driver-held buffer and its loads as frames, merged on read with this
  * scan under one dedup aggregate (NodeAttrIndex.cs:221 semantics), and
  * its periodic compaction checkpoints the merged table in memory.
  *
  * VERSIONED storage lives in the sibling V2 connector
  * (sources/v2: the `graft` format + GraftCatalog): the same bucketed
  * layout behind manifest-committed generations, with VERSION AS OF /
  * TIMESTAMP AS OF time travel, storage-partitioned joins, runtime
  * bucket pruning, and a streaming commit-log read. This catalog-table
  * form stays as the zero-ceremony session-local store.
  *
  * KNOWN HAZARD (Spark 4.1.2, pinned in GraphStoreSpec): unioning TWO
  * scans of the same bucketed table and aggregating on keys that include
  * the bucket column skips the exchange (the planner treats the union as
  * still bucket-partitioned, but partition i and i+32 hold the same
  * keys) → duplicate groups. Restructure to a single scan (explode) or
  * `repartition(col(bucketCol))` before such an aggregate.
  */
object GraphStore {

  private def suffix(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9]", "_").replaceAll("_+", "_")
      .stripPrefix("_").stripSuffix("_")

  /** Bucketed nodes_attrs table for a testdata dir. */
  def nodesAttrs(spark: SparkSession, dir: String): DataFrame =
    ensure(spark, s"graft_nodes_${suffix(dir)}", "id",
      GraphView.nodesAttrs(spark, dir))

  /** Bucketed edges table for a testdata dir. */
  def edges(spark: SparkSession, dir: String): DataFrame =
    ensure(spark, s"graft_edges_${suffix(dir)}", "src_id",
      GraphView.edges(spark, dir))

  private def ensure(spark: SparkSession, table: String, bucketCol: String,
                     derive: => DataFrame): DataFrame = synchronized {
    if (!spark.catalog.tableExists(table)) materialize(spark, table, bucketCol, derive)
    spark.table(table)
  }

  /** Write `df` as a bucketed+sorted table (overwriting any leftover)
    * and return the stored scan — the ingest path for arbitrary graph
    * data (N-Triples, GraphML, put batches), same layout guarantees as
    * the derived tables. */
  def materialize(spark: SparkSession, table: String, bucketCol: String,
                  df: DataFrame): DataFrame = synchronized {
    // a killed prior run can leave the managed location behind with no
    // catalog entry — saveAsTable would fail LOCATION_ALREADY_EXISTS
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    rm(new java.io.File(s"$warehouse/$table"))
    df.write
      .bucketBy(32, bucketCol).sortBy(bucketCol)
      // parquet bloom filter on the bucket column: bucketing prunes to
      // 1 of 32 buckets, the bloom then skips row-groups INSIDE that
      // bucket's files — the two-level point-lookup path the reference
      // gets from hash-partition + FASTER index (Types.fs:23-24 +
      // NodeAttrIndex). Footer presence pinned in GraphStoreSpec.
      .option(s"parquet.bloom.filter.enabled#$bucketCol", "true")
      .mode("overwrite")
      .saveAsTable(table)
    spark.table(table)
  }

  /** Append rows to an existing bucketed table as new bucket files —
    * the reference's put path (fragments append to the partition log,
    * FileStore.fs:514-551; readers merge on load, NodeAttrIndex.cs:221).
    * The bucket spec must match the table's; readers reconcile
    * duplicates through Engine.merge (merge-on-read). */
  def append(spark: SparkSession, table: String, bucketCol: String,
             df: DataFrame): DataFrame = synchronized {
    df.write
      .bucketBy(32, bucketCol).sortBy(bucketCol)
      .mode("append")
      .saveAsTable(table)
    spark.table(table)
  }

  /** Rewrite an appended-to table as one merged generation — the
    * compaction that bounds merge-on-read amplification (the reference
    * checkpoints its FASTER stores on a cadence for the same reason,
    * NodeAttrIndex.cs:74,115-121: readers must not pay for every
    * historical fragment forever). `merge` is the reader's reconcile
    * function (Engine.merge — min-ts dedup); the merged frame is
    * materialized (localCheckpoint) BEFORE the old generation drops,
    * so the rewrite never reads the table it is replacing. At 100 TB
    * this is the periodic background job; the bucketed layout is
    * preserved so post-compaction scans keep pruning and co-located
    * joins. */
  def compact(spark: SparkSession, table: String, bucketCol: String,
              merge: DataFrame => DataFrame): DataFrame = synchronized {
    val merged = merge(spark.table(table)).localCheckpoint()
    materialize(spark, table, bucketCol, merged)
  }

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(): Unit
  }
}
