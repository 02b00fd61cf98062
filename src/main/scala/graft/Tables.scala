package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{LongType, StructType}
import scala.collection.mutable

/** Loaders for the benchmark tables (TPC-H-ish star schema + events/
  * documents/embeddings). One parquet file per table under a scale-factor
  * directory; see TESTDATA.md.
  *
  * Schemas are resolved once per path and file set: every read goes
  * through [[readParquet]], whose in-process catalog keeps each table's
  * inferred parquet schema keyed by the path, the file listing and the
  * session confs that change inference. A repeat load of an unchanged
  * table reads with that schema and runs no schema-inference job; a
  * rewritten or grown table (any leaf file's path, length or
  * modification time differs) is inferred again.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Dimension tables small enough to broadcast at any scale factor. */
  val dimensions: Set[String] = Set("region", "nation", "customer", "supplier", "part")

  /** Load one table. `events.ts` is parquet TIMESTAMP(NANOS), which
    * Spark only reads as a raw long (spark.sql.legacy.parquet.
    * nanosAsLong=true — set in Verify/Bench/tests); convert it back to
    * a proper timestamp at µs precision (`div` keeps it exact — the
    * generator emits µs-granularity values).
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    repairNanosTs(readParquet(spark, s"$dir/$name.parquet"), name)

  /** Read a parquet file or directory with its schema taken from the
    * catalog. Only the `StructType` is cached, never a DataFrame: a hit
    * still builds a fresh relation (its own file listing, fresh
    * attribute ids), so two loads of one table self-join and files
    * added since the last load are read. A path that cannot be listed
    * (missing, or a glob) falls through to the plain inferring read and
    * its usual error.
    */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    fingerprint(spark, path) match {
      case None => spark.read.parquet(path)
      case Some((key, files)) =>
        cachedSchema(key, files) match {
          case Some(schema) => spark.read.schema(schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path) // the one inference job
            schemaCatalog.synchronized {
              schemaCatalog.put(key, (files, df.schema))
              if (schemaCatalog.size > catalogEntries) schemaCatalog.remove(schemaCatalog.head._1)
            }
            df
        }
    }

  private type CatalogKey = (String, Seq[(String, String)])

  /** Session SQL confs that can change the schema parquet inference
    * returns (binaryAsString, int96AsTimestamp, inferTimestampNTZ,
    * mergeSchema, nanosAsLong, partition-column typing, case
    * sensitivity, the time zone partition values are parsed in). Keying
    * on every explicitly set conf under these prefixes keeps one
    * JVM-wide catalog correct across sessions.
    */
  private val schemaConfPrefixes = Seq(
    "spark.sql.parquet.", "spark.sql.legacy.", "spark.sql.sources.",
    "spark.sql.caseSensitive", "spark.sql.session.timeZone")

  private val catalogEntries = 256

  // (qualified path, schema confs) → (digest of the leaf-file listing,
  // inferred schema), LRU like QueryCache. A rewritten table replaces
  // its own entry instead of adding one.
  private val schemaCatalog = mutable.LinkedHashMap.empty[CatalogKey, (String, StructType)]

  private def cachedSchema(key: CatalogKey, files: String): Option[StructType] =
    schemaCatalog.synchronized {
      schemaCatalog.remove(key).map { entry =>
        schemaCatalog.put(key, entry) // re-insert → most-recently-used
        entry
      }
    }.collect { case (`files`, schema) => schema }

  /** Catalog key and a SHA-256 over (path, length, modification time)
    * of every leaf file under `path`, listed once through the Hadoop
    * FileSystem of the path's own scheme (java.io.File would see
    * nothing on hdfs:// or s3a://). A digest, not the listing, so an
    * entry stays small for a table of any file count. None when the
    * path cannot be listed.
    */
  private def fingerprint(spark: SparkSession, path: String): Option[(CatalogKey, String)] = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    val leaves = try {
      val it = fs.listFiles(hPath, true)
      val buf = mutable.ArrayBuffer.empty[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        buf += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      Some(buf.sortInPlaceBy(_._1))
    } catch { case _: java.io.FileNotFoundException => None }
    leaves.map { files =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      files.foreach { case (p, len, mtime) =>
        md.update(s"$p\t$len\t$mtime\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      val confs = spark.conf.getAll.toSeq
        .filter { case (k, _) => schemaConfPrefixes.exists(k.startsWith) }.sorted
      ((fs.makeQualified(hPath).toString, confs), md.digest().map("%02x".format(_)).mkString)
    }
  }

  /** Shared TIMESTAMP(NANOS) repair — used by the batch loader and the
    * streaming subscribe path so the two can't diverge.
    */
  def repairNanosTs(df: DataFrame, name: String): DataFrame =
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else df

  /** Register every table as a temp view so `spark.sql` works over them. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** Typed loader: `loadAs[graft.model.Lineitem](spark, dir, "lineitem")`. */
  def loadAs[T: org.apache.spark.sql.Encoder](spark: SparkSession, dir: String,
                                              name: String): org.apache.spark.sql.Dataset[T] =
    load(spark, dir, name).as[T]
}
