package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated Parquet fixtures (FIXTURES.md §B).
  *
  * Parquet is self-describing, so no schema is supplied at read time;
  * Catalyst prunes columns and pushes predicates into the scan. At 100 TB
  * these same loaders work unchanged on a partitioned directory tree —
  * partition pruning comes free from the path-based reader.
  */
object Tables {

  /** Parquet reader confs that change what schema inference RETURNS
    * for the same footer bytes: under `nanosAsLong` a TIMESTAMP(NANOS)
    * column infers as LONG (the events loader's dispatch relies on
    * it); `inferTimestampNTZ` decides NTZ vs session-tz for
    * unadjusted MICROS. Folded into the memo key so two sessions in
    * one JVM with different settings can never serve each other a
    * schema inferred under the other's config (r14, ADVICE). */
  private def schemaConfKey(spark: SparkSession): String =
    Seq("spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.parquet.inferTimestampNTZ.enabled")
      .map(k => try spark.conf.get(k)
        catch { case _: Exception => "<unset>" }).mkString("|")

  /** Schema peek for a fixture path, through [[Memo]]: the batch
    * loaders here and the streaming sources share it. `spark.read
    * .parquet` with no schema reads a footer and infers at every
    * DataFrame creation, which each sweep of the bench repeats for
    * each query's plan; supplying the same schema back to the reader
    * changes nothing about the scan (pruning and pushdown are
    * unaffected). A path that exists nowhere raises the parquet
    * reader's error. */
  def schemaOf(spark: SparkSession, path: String): org.apache.spark.sql.types.StructType =
    Memo(spark, "schema#" + schemaConfKey(spark), path)(spark.read.parquet(path).schema)

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` has shipped as parquet TIMESTAMP(NANOS) in some
    * fixture generations and TIMESTAMP(MICROS, isAdjustedToUTC=false)
    * in others; normalize BOTH to a session-tz TIMESTAMP so every
    * downstream `unix_micros`/window call sees one type:
    *  - NANOS + `spark.sql.legacy.parquet.nanosAsLong=true` (set in
    *    Verify/Bench/test sessions) reads as LONG → truncate ns→us,
    *    the same truncation DuckDB applies;
    *  - MICROS without UTC adjustment reads as TIMESTAMP_NTZ → cast
    *    to TIMESTAMP, exact under the UTC session timezone all entry
    *    points pin (and the interpretation DuckDB gives the column).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Recursive per-file fingerprint of a fixture file or directory —
    * the key component that lets [[Memo]] MISS after a fixture
    * regeneration instead of silently serving state built from the
    * old data (the test driver has
    * rewritten /root/testdata mid-session before, flipping parquet
    * physical types). A directory's own stat is not enough: rewriting
    * a part file in place leaves the dir mtime/size unchanged, so the
    * walk folds every file. And it folds each file's (relative path,
    * mtime, length) TUPLE into an md5 — an earlier max-mtime +
    * conflated size+count sum could false-hit when a same-sized
    * rewrite landed within one mtime tick.
    *
    * LOCAL-FILESYSTEM ONLY: the walk stats via java.io.File, so a
    * path on a remote FS (S3/HDFS) yields one constant digest per
    * path — valid as a memo key never. Callers use
    * [[fingerprintKeyAny]], which dispatches here for driver-local
    * paths and to the Hadoop-FS twin ([[fingerprintKeyHadoop]]) for
    * every other Spark-visible filesystem. */
  def fingerprintKey(path: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def go(f: java.io.File, rel: String): Unit =
      if (f.isDirectory) {
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
          .sortBy(_.getName)
          .foreach(k => go(k, s"$rel/${k.getName}"))
      } else md.update(s"$rel|${f.lastModified}|${f.length}\n".getBytes("UTF-8"))
    go(new java.io.File(path), "")
    s"$path@" + md.digest().map("%02x".format(_)).mkString
  }

  /** Hadoop-FS twin of [[fingerprintKey]]: the same per-file
    * (relative path, mtime, length) tuple fold, but stat'd through
    * `FileSystem.listFiles(recursive)` so it is valid for ANY
    * Spark-visible filesystem — the S3/HDFS layouts a 100 TB
    * partitioned tree actually lives on, where java.io.File stats
    * degenerate to constants. The listing order is FS-dependent, so
    * entries are sorted before folding (the local walk sorts by name
    * for the same reason). Throws the filesystem's IOException for a
    * missing path — callers that want a soft miss go through
    * [[fingerprintKeyAny]]'s error contract or catch it. */
  def fingerprintKeyHadoop(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = fs.makeQualified(p).toUri.getPath
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val st = it.next()
      val rel = st.getPath.toUri.getPath.stripPrefix(base)
      entries += s"$rel|${st.getModificationTime}|${st.getLen}"
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    entries.sorted.foreach(e => md.update((e + "\n").getBytes("UTF-8")))
    s"$path@" + md.digest().map("%02x".format(_)).mkString
  }

  /** Fingerprint for any Spark-readable path: the cheap java.io walk
    * when the path exists on the driver's local filesystem, the
    * Hadoop-FS twin otherwise. Propagates the filesystem's
    * IOException for a path that exists nowhere — memo callers catch
    * it and fall through to the un-memoized read so the REAL reader
    * error (not a stat error) is what surfaces. */
  def fingerprintKeyAny(spark: SparkSession, path: String): String =
    if (new java.io.File(path).exists) fingerprintKey(path)
    else fingerprintKeyHadoop(spark, path)

  /** Re-spread a scan before a COMPUTE-heavy kernel (shingling,
    * signature hashing, array explosion, media decode): scan tasks
    * follow file layout, and a small fixture is one parquet file = one
    * task, which serializes the per-row work onto a single core. The
    * repartition costs one tiny shuffle and buys kernel parallelism;
    * at 100 TB the same call is a cheap rebalance against row-group
    * skew (explicit numPartitions is honored, not AQE-coalesced).
    *
    * WIDTH IS SCALE-ADAPTIVE (r18, guide §2): ceil(estimated input
    * bytes / target-bytes-per-task), capped at the session's shuffle
    * parallelism. A constant width equal to the core count — the old
    * form — anti-scaled on small inputs: at local[32] a 600 KB corpus
    * became 32 ~tens-of-KB tasks whose scheduling overhead exceeded
    * the kernel work (the r17 scaling block measured the spread
    * consumers FASTER at 8 cores than 32 for exactly this reason). At
    * any real input size the estimate exceeds cap × target and the
    * width is the full session parallelism, unchanged from before.
    * The default target (`spark.graft.spread.targetBytesPerTask`,
    * 64 KB of Catalyst-estimated — i.e. compressed — input) sizes a
    * task at ~100-300 ms of hash-kernel work; callers with far
    * costlier per-byte kernels (media codecs) pass an explicit
    * smaller `targetBytesPerTask`.
    *
    * Only safe for row-local consumers and aggregations whose per-key
    * inputs stay within one row — which is how the text/embedding/
    * media kernels use it. Result invariance to width is the same
    * property as invariance to core count, which the driver's
    * local[8]/local[32] oracle runs both exercise. */
  def spread(s: SparkSession, df: DataFrame,
             targetBytesPerTask: Long = -1L): DataFrame = {
    val cap = s.conf.get("spark.sql.shuffle.partitions").toInt
    val target =
      if (targetBytesPerTask > 0L) targetBytesPerTask
      else s.conf.get("spark.graft.spread.targetBytesPerTask", "65536").toLong
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val width = ((bytes + (target - 1)) / target)
      .min(BigInt(cap)).max(BigInt(1)).toInt
    df.repartition(width)
  }

  /** The reference's central grouping key is an integer `era` time bucket
    * (utils.py:18, metrics.py:5). On the fixtures the analogue is a
    * month bucket derived from a date column (FIXTURES.md §B mapping).
    * Long-typed so Spark output matches DuckDB's BIGINT `year()*12+month()`.
    */
  def eraOfDate(c: Column): Column = (year(c) * 12 + month(c)).cast("long")

  /** Day-granularity era for the `events` table (30 distinct days). */
  def eraOfTs(c: Column): Column = dayofmonth(c).cast("long")
}
