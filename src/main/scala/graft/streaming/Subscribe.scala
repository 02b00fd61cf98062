package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Subscribe-side semantics (reference: the QPU stream protocol in
  * internal/libqpu + responseStream — State records for catch-up,
  * Delta records for updates, EndOfStream marking catch-up done;
  * sum.go and join.go consume such streams and maintain state).
  *
  * Structured Streaming gives the same contract natively: a streaming
  * source replays history (catch-up == State records) and then tails
  * (Delta records); watermarks bound state. The operators below are the
  * continuous forms of SumQpu / JoinQpu: distributed state store,
  * update-mode output = the reference's delta notifications to
  * subscribers.
  */
object Subscribe {

  /** One change record — the Spark shape of the reference's
    * LogOperation (table, record id, vector-clock ts, attribute map).
    */
  final case class CdcRecord(table: String, key: Long, ts: java.sql.Timestamp,
                             attrs: Map[String, String])

  /** Continuous SumQpu (reference: sum.go processRecordInMem): running
    * `sum(valueCol) group by keyCol` over an update stream. Update
    * output mode emits exactly the reference's per-delta notifications
    * (the changed group's new sum).
    */
  def incrementalSum(updates: DataFrame, keyCol: String, valCol: String): DataFrame =
    updates.groupBy(col(keyCol))
      .agg(sum(col(valCol)).as(s"${valCol}_sum"))

  /** Windowed variant with a watermark so state is bounded at scale —
    * the 100-TB-stream form of the same aggregation.
    */
  def windowedSum(updates: DataFrame, tsCol: String, keyCol: String,
                  valCol: String, window: String, watermark: String): DataFrame =
    updates.withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window), col(keyCol))
      .agg(sum(col(valCol)).as(s"${valCol}_sum"))

  /** Parse a Debezium-style JSON changelog into [[CdcRecord]]s
    * (reference: the MySQL datastore driver consumes a pub/sub update
    * stream of the binlog, datastore_driver/mysql/store.go:33
    * `SubscribeOps`; Debezium's envelope is the public standard shape
    * of exactly that stream). Works identically on a batch frame or a
    * streaming one (Kafka `value`, file lines, socket) — `from_json`
    * is per-row, no state.
    *
    * Envelope: `{"payload": {"op": "c|u|d|r", "ts_ms": ...,
    * "source": {"table": ...}, "before": {...}, "after": {...}}}`.
    * Inserts/updates/snapshot-reads carry `after`; deletes carry only
    * `before` and surface as a tombstone — empty attrs plus the op
    * under `__op`, so downstream state operators can drop the key.
    * Attribute maps parse as map<string,string> (the reference's
    * LogOperation attribute shape); consumers cast what they use via
    * [[changelogTable]].
    */
  def fromChangelog(spark: SparkSession, lines: DataFrame,
                    keyField: String, valueCol: String = "value"): Dataset[CdcRecord] = {
    import spark.implicits._
    val envelope = org.apache.spark.sql.types.StructType.fromDDL(
      "payload struct<op: string, ts_ms: long, " +
        "source: struct<table: string>, " +
        "before: map<string,string>, after: map<string,string>>")
    lines.select(from_json(col(valueCol).cast("string"), envelope).as("j"))
      .select(col("j.payload.*"))
      .filter(col("op").isNotNull) // non-envelope lines are not records
      .select(
        coalesce(col("source.table"), lit("")).as("table"),
        // try_cast, not cast: under ANSI mode a non-numeric key value
        // would THROW mid-batch and kill the stream before the
        // null-key filter below ever sees the row
        coalesce(col("after"), col("before")).getItem(keyField)
          .try_cast("long").as("key"),
        timestamp_millis(col("ts_ms")).as("ts"),
        when(col("op") === "d", map(lit("__op"), lit("d")))
          .otherwise(map_concat(coalesce(col("after"),
            map().cast("map<string,string>")),
            map(lit("__op"), col("op")))).as("attrs"))
      // a malformed ENVELOPE (key field absent or non-numeric) must be
      // dropped like non-envelope noise: CdcRecord.key is a primitive
      // Long, so a null key would fail typed deserialization in every
      // stateful consumer, kill the streaming query, and — because a
      // restart replays the same batch from the checkpoint — wedge the
      // subscription permanently on one poisoned record
      .filter(col("key").isNotNull)
      .as[CdcRecord]
  }

  /** Project one table's records out of a changelog stream as typed
    * columns: key, ts, and each requested attribute cast from the
    * string attr map (`attrCols`: name -> Spark DDL type). Tombstones
    * (`__op = d`) are excluded — consumers that need deletes read the
    * CdcRecord stream directly.
    */
  def changelogTable(updates: Dataset[CdcRecord], table: String,
                     attrCols: Map[String, String]): DataFrame = {
    // coalesce: records from producers other than fromChangelog (e.g.
    // hand-built CdcRecords) carry no __op — they are upserts, not
    // tombstones, and a bare null =!= "d" would silently drop them
    val base = updates.toDF()
      .filter(col("table") === table &&
        coalesce(col("attrs").getItem("__op"), lit("")) =!= "d")
    attrCols.foldLeft(base.select(col("key"), col("ts"), col("attrs"))) {
      case (df, (name, ddl)) =>
        // try_cast: a malformed attribute VALUE nulls the cell instead
        // of throwing under ANSI mode and killing the whole stream
        df.withColumn(name, col("attrs").getItem(name).try_cast(ddl))
    }.drop("attrs")
  }

  final case class JoinSideState(left: Map[String, String], right: Map[String, String])
  final case class JoinedRow(key: Long, attrs: Map[String, String], complete: Boolean)

  /** Continuous JoinQpu (reference: join.go — state keyed by the join
    * attribute; each incoming record upserts its table's attributes;
    * the materialized row is the merge of both sides).
    *
    * flatMapGroupsWithState keeps one merged-attribute map per join
    * key in the state store (per-key partitioned — scales with
    * executors, not driver memory) and emits the refreshed row on
    * every upsert, like the reference's delta push.
    */
  def materializedJoin(spark: SparkSession, updates: Dataset[CdcRecord],
                       leftTable: String): Dataset[JoinedRow] = {
    import spark.implicits._
    updates.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: Long, recs: Iterator[CdcRecord], state: GroupState[JoinSideState]) =>
          var s = state.getOption.getOrElse(JoinSideState(Map.empty, Map.empty))
          recs.foreach { r =>
            s = if (r.table == leftTable) s.copy(left = s.left ++ r.attrs)
                else s.copy(right = s.right ++ r.attrs)
          }
          state.update(s)
          Iterator.single(JoinedRow(key, s.left ++ s.right,
            complete = s.left.nonEmpty && s.right.nonEmpty))
      }
  }

  final case class EnrichedProbe(key: Long, probeTs: java.sql.Timestamp,
                                 attrs: Map[String, String],
                                 versionTs: Option[java.sql.Timestamp])

  /** Continuous as-of enrichment — the streaming twin of
    * [[graft.operators.AsOf.asofJoin]]: one merged [[CdcRecord]]
    * stream carries both dimension versions (`table == dimTable`) and
    * probe records (any other table); each probe is answered with the
    * latest dimension version whose ts <= the probe's ts.
    *
    * State per key is the version history, pruned to the newest
    * `maxVersions` entries (bounded state — the 100-TB-stream
    * requirement; versions older than the retention window cannot win
    * an as-of lookup against in-order probes). A probe that arrives
    * before its matching version emits with the best version known AT
    * ARRIVAL (`versionTs` = None if none) — the same answer the
    * reference's versioned index would give a read at that moment.
    */
  def streamingAsOfJoin(spark: SparkSession, updates: Dataset[CdcRecord],
                        dimTable: String,
                        maxVersions: Int = 32): Dataset[EnrichedProbe] = {
    import spark.implicits._
    updates.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Long, recs: Iterator[CdcRecord],
         state: GroupState[List[(java.sql.Timestamp, Map[String, String])]]) =>
          var versions = state.getOption.getOrElse(Nil) // newest-first
          val out = scala.collection.mutable.ListBuffer.empty[EnrichedProbe]
          // within a micro-batch, apply records in event-time order;
          // at equal timestamps the version applies BEFORE the probe
          // (ts <= probeTs is inclusive, same as the batch asofJoin's
          // side ordering) — without the secondary key the resolution
          // would follow arrival order, which streaming doesn't fix
          // (getTime, getNanos): full sub-millisecond precision — getTime
          // alone truncates to ms and can order a stale version first
          recs.toSeq.sortBy(r => (r.ts.getTime, r.ts.getNanos,
              if (r.table == dimTable) 0 else 1))
            .foreach { r =>
              if (r.table == dimTable) {
                versions = ((r.ts, r.attrs) :: versions)
                  .sortWith((a, b) => a._1.compareTo(b._1) > 0).take(maxVersions)
              } else {
                versions.find(!_._1.after(r.ts)) match {
                  case Some((vts, attrs)) =>
                    out += EnrichedProbe(key, r.ts, attrs, Some(vts))
                  case None => out += EnrichedProbe(key, r.ts, Map.empty, None)
                }
              }
            }
          // probe-only keys must not pin an empty state entry forever
          // (NoTimeout never evicts; absent and Nil read identically)
          if (versions.nonEmpty) state.update(versions)
          out.iterator
      }
  }

  /** Continuous materialized view as a partitioned parquet table
    * (reference: every QPU materializes its state and serves queries
    * from it; here the state lands as a table any engine can scan).
    *
    * Each micro-batch UPSERTS through [[graft.operators.Ivm
    * .rewritePartitions]]: the batch's affected partitions are
    * re-read, merged latest-per-key ([[graft.operators.AsOf
    * .latestPerKey]] — the same definition of "latest" as the batch
    * snapshots), checkpointed and rewritten — partitions the batch
    * didn't touch are never rewritten, so write cost tracks the change
    * rate, not the table size. The checkpoint, not a persist, sits
    * before the overwrite: a persist would still recompute from the
    * files being deleted if cache blocks were lost mid-write.
    *
    * CONTRACT: `partitionCol` must be a pure function of `key` — a
    * key that migrates between partitions would leave its old row
    * behind (the partition is the atomicity unit; use a table format
    * for cross-partition transactions).
    */
  def parquetUpsertSink(updates: DataFrame, path: String, checkpoint: String,
                        key: Seq[String], tsCol: String, tiebreak: Seq[String],
                        partitionCol: String,
                        maxPartitionsPerBatch: Int = 4096): org.apache.spark.sql.streaming.StreamingQuery =
    updates.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        upsertBatch(batch.toDF(), path, key, tsCol, tiebreak, partitionCol,
          maxPartitionsPerBatch)
      }
      .start()

  /** One micro-batch of the upsert — factored out so the
    * partition-cardinality contract (`maxPartitionsPerBatch`, enforced
    * by [[graft.operators.Ivm.rewritePartitions]]) is directly
    * testable.
    */
  private[graft] def upsertBatch(batch: DataFrame, path: String,
                                 key: Seq[String], tsCol: String,
                                 tiebreak: Seq[String], partitionCol: String,
                                 maxPartitionsPerBatch: Int = 4096): Unit =
    graft.operators.Ivm.rewritePartitions(path, partitionCol, batch, batch.schema,
        maxPartitionsPerBatch) { (existing, _) =>
      graft.operators.AsOf.latestPerKey(existing.unionByName(batch), tsCol, key, tiebreak)
    }

  /** Streaming read of a stored table — the datastore driver's
    * subscribe path (reference: datastoredriver.go ProcessQuerySubscribe;
    * s3/mysql drivers emit update streams). The file source replays
    * existing files (catch-up) and tails new arrivals; schema comes
    * from the batch loader's schema catalog
    * ([[graft.Tables.readParquet]]), with the same TIMESTAMP(NANOS)
    * repair as [[graft.Tables.load]].
    */
  def subscribeTable(spark: SparkSession, dir: String, table: String): DataFrame = {
    val path = s"$dir/$table.parquet"
    val schema = graft.Tables.readParquet(spark, path).schema
    // single-FILE tables (the bundled testdata layout) need the glob so
    // sibling tables in `dir` don't leak into the stream; a Spark-written
    // DIRECTORY table of the same name holds part-*.parquet leaves the
    // glob would silently exclude (zero-row stream) — stream the
    // directory itself instead. The check goes through the Hadoop
    // FileSystem resolved from the path's own scheme: java.io.File is
    // always false on hdfs:// / s3a://, which would silently take the
    // single-file branch and stream zero rows there.
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    val stream =
      if (fs.getFileStatus(hPath).isDirectory)
        spark.readStream.schema(schema).parquet(path)
      else spark.readStream.schema(schema)
        .option("pathGlobFilter", s"$table.parquet")
        .parquet(dir)
    graft.Tables.repairNanosTs(stream, table)
  }

  /** Streaming exact dedup for continuous ingest: drop rows whose key
    * columns were already seen, with a watermark bounding the dedup
    * state (the unbounded-state version would OOM a 100-TB stream).
    * This is the streaming twin of [[graft.operators.Dedup.exact]].
    */
  def streamingDedup(stream: DataFrame, tsCol: String, watermark: String,
                     keyCols: Seq[String]): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Snapshot-and-subscribe (reference: queries.go
    * NewQuerySnapshotAndSubscribe — catch-up then tail): in Structured
    * Streaming the source itself replays from the earliest offset, so
    * the same continuous query covers both phases; this helper just
    * documents the mapping and applies the filter/projection that the
    * reference's query AST would.
    */
  def snapshotAndSubscribe(stream: DataFrame, projection: Seq[String],
                           isNotNull: Seq[String]): DataFrame = {
    val filtered = isNotNull.foldLeft(stream)((df, a) => df.filter(col(a).isNotNull))
    if (projection.isEmpty) filtered else filtered.select(projection.map(col): _*)
  }
}
