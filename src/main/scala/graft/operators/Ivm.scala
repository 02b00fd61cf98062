package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Batch incremental view maintenance — the OFFLINE half of the
  * reference's soul. Reference QPUs keep materialized state current by
  * applying each update notification to the state (sum QPU:
  * internal/qpu_classes/sum/sum.go applies deltas to the running sums;
  * join QPU: internal/qpu_classes/join/join.go upserts joined rows),
  * and this repo already has that STREAMING form (Subscribe
  * .incrementalSum / materializedJoin / parquetUpsertSink). But a
  * 100 TB pipeline refreshes most of its derived tables in batch: a
  * nightly CDC extract lands next to yesterday's materialized
  * aggregate, and recomputing the aggregate from the full base table
  * to absorb a 0.1% delta wastes 1000× the work. These operators apply
  * the delta directly to the materialized state, with results
  * spec-pinned EQUAL to full recompute (IvmSpec) and oracled against
  * the from-scratch SQL (`q_ivm_refresh`).
  *
  * Delta contract (Debezium-shaped, like [[graft.streaming.Subscribe
  * .fromChangelog]]): one row per base-table change with `opCol` ∈
  * {'I','D'}; an update travels as D(old) + I(new). Deltas must be
  * CONSISTENT with the state (a 'D' row was really in the base table):
  * group counts driven negative by a bad feed fail loudly rather than
  * merging garbage.
  *
  * Scale shape: the delta is aggregated FIRST (combinable, map-side),
  * so the merge join is state-keys × touched-keys — never base-table
  * sized; the parquet-backed variants rewrite only the partitions the
  * delta touches, through [[rewritePartitions]].
  */
object Ivm {

  /** Build the materialized group-by state: per key, `sum_<valCol>`
    * and `n_rows`. `n_rows` is not bookkeeping overhead — it is what
    * makes DELETION maintainable (a group vanishes exactly when its
    * count reaches zero, which a bare sum cannot detect).
    */
  def groupState(rows: DataFrame, keyCols: Seq[String], valCol: String): DataFrame =
    // NULL group keys excluded (fuzz r12): state merging is a KEY JOIN
    // (applyGroupDelta's full-outer), and SQL joins never match NULL
    // keys — a NULL-key group would accumulate inserts while deletes
    // pass it by, silently diverging from recompute
    rows.filter(keyCols.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col(valCol)).as(s"sum_$valCol"), count(lit(1)).as("n_rows"))

  /** Apply a CDC delta to a group-by-sum state without touching base
    * data: the delta collapses to per-key signed (Δsum, Δn) — one
    * combinable aggregate over the (small) delta — then merges into
    * the state by a full-outer join on the key. Groups whose count
    * reaches zero are dropped (matching full recompute); keys new in
    * the delta appear. A count driven NEGATIVE means the delta deleted
    * rows the state never had — that is a corrupt feed, and the
    * mismatch fails the run via `raise_error` instead of persisting a
    * poisoned state.
    */
  def applyGroupDelta(state: DataFrame, delta: DataFrame, opCol: String,
                      keyCols: Seq[String], valCol: String): DataFrame = {
    val sumCol = s"sum_$valCol"
    val sgn = when(col(opCol) === "I", lit(1L))
      .when(col(opCol) === "D", lit(-1L))
      .otherwise(raise_error(concat(lit("IVM delta op must be I or D, got: "),
        col(opCol))).cast("long"))
    val d = delta
      .filter(keyCols.map(col(_).isNotNull).reduce(_ && _)) // same key contract as groupState
      .select(keyCols.map(col) :+ sgn.as("__sgn") :+ col(valCol).as("__v"): _*)
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("__sgn") * col("__v")).as("__dsum"), sum(col("__sgn")).as("__dn"))
    val merged = state.join(d, keyCols, "full_outer")
      .select(keyCols.map(col) ++ Seq(
        (coalesce(col(sumCol), lit(0L)) + coalesce(col("__dsum"), lit(0L))).as(sumCol),
        (coalesce(col("n_rows"), lit(0L)) + coalesce(col("__dn"), lit(0L))).as("n_rows")): _*)
    merged
      .withColumn("n_rows", when(col("n_rows") >= 0, col("n_rows"))
        .otherwise(raise_error(concat(lit("IVM count went negative — delta deletes "
          + "rows the state does not have, key: "), concat_ws(",", keyCols.map(c =>
            col(c).cast("string")): _*))).cast("long")))
      .filter(col("n_rows") > 0)
  }

  /** Per-row NET of a signed delta: group the delta by its FULL row
    * content (everything but `opCol`) and sum I as +1 / D as −1,
    * keeping only rows with a nonzero net. This is what makes a delta
    * batch ORDER-INSENSITIVE, the same way [[applyGroupDelta]]'s
    * signed counts are: a row inserted AND deleted within the batch
    * nets to zero (a no-op, matching recompute), while an update's
    * D(old)+I(new) pair nets to −1 on the old content and +1 on the
    * new content — the two cases are indistinguishable by (id, op
    * multiset) alone, so netting on CONTENT is the only rule that
    * gets both right. Under the primary-key contract (each id appears
    * at most once in the base table) a consistent feed can only net
    * to −1/0/+1 per content row.
    */
  private def netDelta(delta: DataFrame, opCol: String): DataFrame = {
    val sgn = when(col(opCol) === "I", lit(1L))
      .when(col(opCol) === "D", lit(-1L))
      .otherwise(raise_error(concat(lit("IVM delta op must be I or D, got: "),
        col(opCol))).cast("long"))
    val rowCols = delta.columns.filterNot(_ == opCol).toSeq
    delta.select(rowCols.map(col) :+ sgn.as("__sgn"): _*)
      .groupBy(rowCols.map(col): _*)
      .agg(sum(col("__sgn")).as("__net"))
      .filter(col("__net") =!= 0)
  }

  /** Maintain a materialized EQUI-JOIN under deltas to the fact side:
    * J = R ⋈ S keyed by R's primary key `rIdCol` (each fact row joins
    * at most one dimension row — the star-schema case). The delta is
    * first NETTED per row content ([[netDelta]]), so an intra-batch
    * I-then-D pair is a no-op while an update's D(old)+I(new) still
    * lands as delete-old + insert-new; effective deletes drop the
    * matching materialized rows by id (one keyed anti join);
    * effective inserts join ONLY the delta against the dimension
    * (ΔR ⋈ S — the classic delta rule; the base table R is never
    * read).
    */
  def applyJoinDelta(matJoin: DataFrame, deltaR: DataFrame, opCol: String,
                     rIdCol: String, dim: DataFrame, joinKey: String): DataFrame = {
    val net = netDelta(deltaR, opCol)
    val dels = net.filter(col("__net") < 0).select(col(rIdCol))
    val ins = net.filter(col("__net") > 0).drop("__net").join(dim, joinKey)
    matJoin.join(dels, Seq(rIdCol), "left_anti")
      .unionByName(ins.select(matJoin.columns.map(col): _*))
  }

  /** GENERAL join IVM — the reference join QPU's full
    * maintain-under-updates contract (internal/qpu_classes/join/
    * join.go consumes update streams from BOTH parents): maintain
    * J = R ⋈ S on `joinKey` under deltas to EITHER side, with
    * many-to-many join keys. Rows of each side are unique by that
    * side's primary key (`rIdCol` / `sIdCol` — the realistic CDC
    * contract; the JOIN key may repeat freely on both sides), so
    * every materialized row is uniquely (rIdCol, sIdCol)-keyed.
    *
    * This is the signed delta rule J' = J + ΔR⋈S + R⋈ΔS + ΔR⋈ΔS,
    * evaluated without double counting by splitting each side into
    * kept ∪ inserted:
    *   J' = (J − touched) ∪ (Rins ⋈ S') ∪ ((R' − Rins) ⋈ Sins)
    * where S' and R' are the post-delta sides. Deltas are netted per
    * row content first ([[netDelta]]) so intra-batch I-then-D pairs
    * vanish and updates split into delete-old + insert-new; a
    * cross-key update (the join key itself changes) is just that
    * split landing in two join-key groups.
    *
    * Scale shape: the anti joins prune J by the (delta-sized) touched
    * id sets — broadcastable; ΔR⋈S' and R'⋈ΔS shuffle only the
    * delta's join keys against the big side (AQE turns these into
    * broadcast joins when the delta is small); nothing rescans J by
    * content and nothing is quadratic in the base tables. The side
    * states R/S must be supplied — the whole point of maintaining J
    * incrementally is that they are cheap parquet reads pruned to the
    * delta's keys, never re-joined wholesale.
    */
  def applyTwoSidedJoinDelta(matJoin: DataFrame,
                             rState: DataFrame, deltaR: DataFrame,
                             sState: DataFrame, deltaS: DataFrame,
                             opCol: String, rIdCol: String, sIdCol: String,
                             joinKey: String): DataFrame = {
    val netR = netDelta(deltaR, opCol)
    val netS = netDelta(deltaS, opCol)
    val rDelIds = netR.filter(col("__net") < 0).select(col(rIdCol))
    val sDelIds = netS.filter(col("__net") < 0).select(col(sIdCol))
    val rIns = netR.filter(col("__net") > 0).drop("__net")
    val sIns = netS.filter(col("__net") > 0).drop("__net")
    // post-delta sides (kept ∪ inserted)
    val rKept = rState.join(rDelIds, Seq(rIdCol), "left_anti")
    val sKept = sState.join(sDelIds, Seq(sIdCol), "left_anti")
    val sNew = sKept.unionByName(sIns)
    val outCols = matJoin.columns.map(col).toSeq
    val untouched = matJoin
      .join(rDelIds, Seq(rIdCol), "left_anti")
      .join(sDelIds, Seq(sIdCol), "left_anti")
    // ΔR ⋈ S' covers (Rins × Skept) ∪ (Rins × Sins);
    // Rkept ⋈ ΔS covers the remaining (Rkept × Sins) exactly once
    val fromR = rIns.join(sNew, joinKey).select(outCols: _*)
    val fromS = rKept.join(sIns, joinKey).select(outCols: _*)
    untouched.unionByName(fromR).unionByName(fromS)
  }

  /** Parquet-backed refresh of a materialized group-by-sum table: read
    * ONLY the partitions the delta touches, merge with
    * [[applyGroupDelta]], rewrite only those partitions
    * ([[rewritePartitions]]); untouched partitions' files are never
    * opened. `partitionCol` must be one of `keyCols` (the partition
    * is then automatically a pure function of the key, so a group
    * never migrates between partitions).
    */
  def refreshGroupBySumTable(path: String, delta: DataFrame, opCol: String,
                             keyCols: Seq[String], valCol: String,
                             partitionCol: String,
                             maxPartitionsPerBatch: Int = 4096): Unit = {
    require(keyCols.contains(partitionCol),
      s"partitionCol '$partitionCol' must be one of the group keys $keyCols")
    // the STATE's schema (keys + sum + count) pins the read-back types
    // so partition-column inference can't retype
    val stateShape = groupState(delta.limit(0), keyCols, valCol).schema
    rewritePartitions(path, partitionCol, delta, stateShape, maxPartitionsPerBatch) {
      (existing, parts) =>
        require(!parts.contains(null),
          s"null '$partitionCol' partition values are not supported — " +
            "map them to a sentinel before refreshing")
        applyGroupDelta(existing, delta, opCol, keyCols, valCol)
    }
  }

  /** The one partition-scoped rewrite of a parquet table, shared by
    * [[refreshGroupBySumTable]], [[refreshJoinTable]],
    * [[mergeKeyedTable]] and `Subscribe.upsertBatch`. The distinct
    * `partitionCol` values of `touched` are collected, bounded by
    * `maxPartitions` with a named error rather than an OOM (they
    * parameterize the read-back filter, and a mis-chosen
    * `partitionCol` such as the row key would balloon the collect).
    * Only those partitions are read back, `merge(existing, values)` is
    * checkpointed, and a dynamic overwrite rewrites just the touched
    * partitions; untouched partitions' files are never opened.
    */
  private[graft] def rewritePartitions(path: String, partitionCol: String,
                                       touched: DataFrame, shape: StructType,
                                       maxPartitions: Int)(
                                       merge: (DataFrame, Seq[Any]) => DataFrame): Unit = {
    val spark = touched.sparkSession
    val parts = touched.select(partitionCol).distinct()
      .limit(maxPartitions + 1).collect().map(_.get(0)).toSeq
    require(parts.length <= maxPartitions,
      s"batch touches > $maxPartitions distinct '$partitionCol' partitions — " +
        "partitionCol must be low-cardinality (a function of key, not the key itself); " +
        "raise maxPartitionsPerBatch only if the table really has that many live partitions")
    if (parts.isEmpty) return
    // explicit existence check — a blanket AnalysisException catch
    // would also swallow schema/corruption failures and silently
    // overwrite good partitions with batch-only rows
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    val existing =
      if (!fs.exists(hPath)) spark.createDataFrame(java.util.Collections.emptyList[Row](), shape)
      else {
        // a bare isin() never matches NULL, so the null partition is
        // read back by its own predicate
        val (nulls, nonNulls) = parts.partition(_ == null)
        val cond = Option.when(nonNulls.nonEmpty)(col(partitionCol).isin(nonNulls: _*))
          .toSeq ++ Option.when(nulls.nonEmpty)(col(partitionCol).isNull).toSeq
        // read back with the schema pinned: partition-column type
        // inference would otherwise retype numeric-looking string
        // partition values ('01' -> int 1), making the merge's union
        // fail or — worse — coercing '01' to '1' and rewriting those
        // rows into a different partition directory
        spark.read.schema(shape).parquet(path).filter(cond.reduce(_ || _))
      }
    // eager checkpoint: severs lineage from the files being
    // overwritten. The surviving partition values ride the checkpoint
    // job; struct() because collect_set skips NULLs, and a surviving
    // null partition must not be swept
    val (merged, probe) = Rounds.checkpoint(merge(existing, parts), Nil,
      collect_set(struct(col(partitionCol))))
    merged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic") // write-scoped, no session conf leak
      .partitionBy(partitionCol).parquet(path)
    // dynamic overwrite only replaces partitions PRESENT in the written
    // data: a touched partition whose rows ALL vanished writes nothing,
    // so its stale directory must be dropped explicitly or reads would
    // resurrect the deleted rows
    val survived = probe.getSeq[Row](0).map(_.get(0)).toSet
    parts.filterNot(survived.contains).foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(hPath, partitionDirName(partitionCol, v)), true)
    }
  }

  /** The exact directory name the parquet writer used for a partition
    * value — `ExternalCatalogUtils.getPartitionPathString`, i.e. Hive
    * path escaping of both column and value (space, ':', '/', '%', …)
    * and the `__HIVE_DEFAULT_PARTITION__` sentinel for null and empty
    * values.
    * A hand-built s"$col=$v" silently MISSES any partition whose
    * escaped directory differs from `String.valueOf` — the stale
    * directory then survives the vanished-partition sweep and deleted
    * groups resurrect on the next read. Restricted to the types whose
    * `String.valueOf` matches the writer's value rendering
    * (integral/string/boolean); date/timestamp/decimal partition
    * columns render through type-specific formatters and are rejected
    * up front rather than risked.
    */
  private[graft] def partitionDirName(partitionCol: String, v: Any): String = {
    v match {
      case null | _: String | _: java.lang.Boolean | _: java.lang.Byte |
           _: java.lang.Short | _: java.lang.Integer | _: java.lang.Long => ()
      case other => throw new IllegalArgumentException(
        s"partition column '$partitionCol' has ${other.getClass.getSimpleName} values — " +
          "only integral/string/boolean partition columns are supported for " +
          "vanished-partition cleanup (date/timestamp/decimal render through " +
          "writer-side formatters this path does not replicate)")
    }
    // a null value passes through as a null String: the writer's
    // directory for it is `__HIVE_DEFAULT_PARTITION__`, not "null"
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .getPartitionPathString(partitionCol, Option(v).map(String.valueOf).orNull)
  }

  /** The partition bucket for [[refreshJoinTable]]: a stable hash
    * bucket of the join key. Hash-bucketing (not raw key values) keeps
    * the partition count fixed whatever the key cardinality, and an
    * integer bucket never needs path escaping.
    */
  def joinBucket(joinKey: String, numBuckets: Int) =
    pmod(hash(col(joinKey)), lit(numBuckets)).as("__jb")

  /** Materialize R ⋈ S at `path`, partitioned by the join-key hash
    * bucket — the layout [[refreshJoinTable]] maintains incrementally.
    */
  def writeJoinTable(path: String, r: DataFrame, s: DataFrame,
                     joinKey: String, numBuckets: Int): Unit =
    r.join(s, joinKey).withColumn("__jb", joinBucket(joinKey, numBuckets))
      .write.mode("overwrite").partitionBy("__jb").parquet(path)

  /** Parquet-backed refresh of a [[writeJoinTable]] materialized join
    * under deltas to EITHER side: only the join-key buckets the delta
    * touches are read back, merged via [[applyTwoSidedJoinDelta]], and
    * rewritten; untouched buckets' files are never opened. Side
    * states are pruned to the touched buckets too — the fact-table
    * read is delta-keys-sized, not history-sized. A D row
    * carries its full content, so a join-key-changing update touches
    * both the old and the new key's bucket, exactly the two buckets
    * whose rows change. Buckets whose rows ALL vanished are dropped
    * ([[rewritePartitions]]).
    */
  def refreshJoinTable(path: String,
                       rState: DataFrame, deltaR: DataFrame,
                       sState: DataFrame, deltaS: DataFrame,
                       opCol: String, rIdCol: String, sIdCol: String,
                       joinKey: String, numBuckets: Int,
                       maxPartitionsPerBatch: Int = 4096): Unit = {
    val jb = joinBucket(joinKey, numBuckets)
    val shape = rState.join(sState, joinKey).limit(0).withColumn("__jb", lit(0)).schema
    rewritePartitions(path, "__jb", deltaR.select(jb).unionByName(deltaS.select(jb)),
        shape, maxPartitionsPerBatch) { (existing, touched) =>
      val inTouched = col("__jb").isin(touched: _*)
      def pruned(df: DataFrame): DataFrame =
        df.withColumn("__jb", jb).filter(inTouched).drop("__jb")
      applyTwoSidedJoinDelta(existing.drop("__jb"),
          pruned(rState), pruned(deltaR), pruned(sState), pruned(deltaS),
          opCol, rIdCol, sIdCol, joinKey)
        .withColumn("__jb", jb)
    }
  }

  /** Maintain a per-group TOP-K view under CDC deltas WITHOUT
    * re-reading the base table — the reference top-k QPU's
    * maintain-under-updates contract in batch form. The state retains
    * `k + buffer` rows per group (value desc, id asc — a total order,
    * so the retained set is deterministic); inserts merge and re-trim,
    * and deletes are SOUND because any row outside the retained set is
    * ordered below every retained row: as long as a group still
    * retains ≥ k rows after its deletes, its top-k is exactly
    * recompute's. A group whose retained count falls BELOW k may owe
    * rows that were trimmed away earlier, so it is flagged
    * `needs_recompute = true` (rows kept as a best-effort prefix) —
    * the caller re-seeds those groups from the base table; the buffer
    * is the knob that makes flags rare (a delete storm of b rows per
    * group between refreshes never flags). Deltas are netted per row
    * content first ([[applyGroupDelta]]'s discipline), so intra-batch
    * I-then-D is a no-op; a delete that misses the retained set is
    * treated as deleting an already-trimmed (or never-present) row —
    * it cannot affect the retained prefix and is ignored.
    *
    * Scale shape: state is groups×(k+buffer) rows; the delta joins it
    * by group only after its own combinable netting, and the one
    * window partitions by group over ≤ k+buffer+batch rows — never the
    * base table.
    */
  def applyTopKDelta(state: DataFrame, delta: DataFrame, opCol: String,
                     groupCol: String, idCol: String, valCol: String,
                     k: Int, buffer: Int): DataFrame = {
    require(k >= 1 && buffer >= 0, s"need k >= 1, buffer >= 0; got ($k, $buffer)")
    val net = netDelta(delta.select(col(opCol), col(groupCol), col(idCol), col(valCol)), opCol)
    val ins = net.filter(col("__net") > 0).drop("__net")
    val dels = net.filter(col("__net") < 0).select(col(groupCol), col(idCol), col(valCol))
    // a group's delete count that HIT the retained set, to detect underflow
    val hit = state.join(dels, Seq(groupCol, idCol, valCol), "left_semi")
      .groupBy(col(groupCol)).agg(count(lit(1)).as("__hits"))
    val kept = state.join(dels, Seq(groupCol, idCol, valCol), "left_anti")
    val merged = kept.unionByName(ins)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(valCol).desc, col(idCol).asc)
    val trimmed = merged
      .withColumn("__rnk", row_number().over(w))
      .filter(col("__rnk") <= k + buffer)
      .drop("__rnk")
    // the soundness condition is the POST-DELETE (pre-insert) retained
    // count: a batch's inserts can refill the merged count back to k
    // while the group still owes rows trimmed away earlier, so the
    // underflow flag must come from `kept`, never from `trimmed`
    val keptCounts = kept.groupBy(col(groupCol)).agg(count(lit(1)).as("__kn"))
    val flagged = trimmed
      .join(keptCounts, Seq(groupCol), "left")
      .join(hit, Seq(groupCol), "left")
      .withColumn("needs_recompute",
        coalesce(col("__kn"), lit(0L)) < k && coalesce(col("__hits"), lit(0L)) > 0)
      .drop("__kn", "__hits")
    // a group whose rows ALL died still owes the caller its flag — it
    // may have trimmed-away rows that now belong in its top-k; emit a
    // NULL-row carrier so the group cannot silently vanish unflagged
    val idT = state.schema(idCol).dataType
    val valT = state.schema(valCol).dataType
    val vanished = hit.join(trimmed.select(col(groupCol)).distinct(),
        Seq(groupCol), "left_anti")
      .select(col(groupCol), lit(null).cast(idT).as(idCol),
        lit(null).cast(valT).as(valCol), lit(true).as("needs_recompute"))
    flagged.unionByName(vanished)
  }

  /** The bucketed layout [[mergeKeyedTable]] maintains: rows hashed on
    * the merge key into a fixed bucket count (integer buckets never
    * need path escaping, and the count is independent of key
    * cardinality — the [[writeJoinTable]] discipline).
    */
  def writeKeyedTable(path: String, df: DataFrame, keyCol: String,
                      numBuckets: Int): Unit =
    df.withColumn("__kb", pmod(hash(col(keyCol)), lit(numBuckets)))
      .write.mode("overwrite").partitionBy("__kb").parquet(path)

  /** Keyed MERGE — the SQL `MERGE INTO` contract on a plain
    * [[writeKeyedTable]] parquet layout, no table format required:
    * each change row carries `opCol` = I/U (the full replacement row;
    * matched → update, unmatched → insert — upsert) or D (delete by
    * key — its other columns are ignored). Only the hash buckets the
    * change keys touch are read back and rewritten
    * ([[rewritePartitions]]); untouched buckets' files are never
    * opened, so merge IO tracks the CHANGE batch, not table size, and
    * buckets whose rows all vanished are dropped.
    *
    * At most ONE change row per key per batch — enforced, because two
    * same-key changes in one unordered batch have no defined merge
    * result (CDC feeds net their batches first: [[applyGroupDelta]]'s
    * netting discipline). NULL merge keys are rejected: NULL never
    * equals itself in the anti-join, so a NULL-keyed "update" would
    * silently insert forever.
    */
  def mergeKeyedTable(path: String, changes: DataFrame, opCol: String,
                      keyCol: String, numBuckets: Int,
                      maxPartitionsPerBatch: Int = 4096): Unit = {
    require(!changes.schema.fieldNames.contains("__kb"),
      "'__kb' is the reserved bucket column")
    require(changes.filter(col(keyCol).isNull).limit(1).collect().isEmpty,
      s"NULL '$keyCol' merge keys are not supported")
    val dup = changes.groupBy(col(keyCol)).agg(count(lit(1)).as("__c"))
      .filter(col("__c") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"multiple change rows for '$keyCol' = ${dup.headOption.map(_.get(0)).orNull} " +
        "in one batch — merge order would be undefined; net the batch first")
    val kb = pmod(hash(col(keyCol)), lit(numBuckets))
    val shape = changes.drop(opCol).limit(0).withColumn("__kb", lit(0)).schema
    rewritePartitions(path, "__kb", changes.select(kb.as("__kb")), shape,
        maxPartitionsPerBatch) { (existing, _) =>
      val keep = existing.drop("__kb")
        .join(changes.select(col(keyCol)), Seq(keyCol), "left_anti")
      val upserts = changes.filter(col(opCol) =!= "D").drop(opCol)
      keep.unionByName(upserts).withColumn("__kb", kb)
    }
  }
}
