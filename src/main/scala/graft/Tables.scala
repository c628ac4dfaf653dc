package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.types.StructType

/** Per-(session, key) single-evaluation memo, generalized over the value
  * type so the DataFrame memo, the IVF centroid grid and the trained
  * k-means model caches share ONE copy of this concurrency-sensitive
  * pattern instead of three drifting ones (advisor, round 6).
  *
  * Eviction: entries of STOPPED sessions are swept on every access. (A
  * WeakHashMap cannot do this job: a cached value that references its
  * SparkSession key — a DataFrame, an ML model — pins the entry forever
  * per WeakHashMap's own javadoc. Keying on the session object still
  * prevents a new session ever seeing another session's plans; the sweep
  * bounds growth to sessions stopped since the last call.)
  *
  * The holder's `lazy val` gives per-INSTANCE synchronization: the winner
  * of the putIfAbsent race builds under its own monitor, losers block on
  * THAT key only — a build that runs Spark jobs (LSH band-index head(),
  * IVF centroid collect, k-means fit) never holds a process-global lock,
  * and never runs twice.
  *
  * Every instance registers itself with the companion, so
  * [[Tables.clearMemo]] drains them all. */
private[graft] final class SessionMemo[V] {
  SessionMemo.all.add(this)
  private final class Holder(build: () => V) {
    /** Set only after `value` completes — `lazy val` does NOT mark
      * itself initialized when the initializer throws, so dereferencing
      * `value` from cleanup would RE-RUN a failed build (potentially a
      * full Spark job) just to swallow its exception (advisor r7).
      * `drain` consults this flag instead. */
    @volatile var built: Boolean = false
    lazy val value: V = { val v = build(); built = true; v }
  }
  private val m = new java.util.IdentityHashMap[SparkSession,
    scala.collection.concurrent.TrieMap[String, Holder]]()
  def get(spark: SparkSession, key: String)(build: => V): V = {
    val perSession = m.synchronized {
      m.keySet.removeIf(s => s.sparkContext.isStopped)
      var t = m.get(spark)
      if (t == null) {
        t = scala.collection.concurrent.TrieMap.empty[String, Holder]
        m.put(spark, t)
      }
      t
    }
    val holder = perSession.get(key) match {
      case Some(h) => h
      case None =>
        val h = new Holder(() => build)
        perSession.putIfAbsent(key, h).getOrElse(h)
    }
    holder.value
  }
  /** Remove and return `spark`'s memoized values (cleanup hooks). Only
    * holders whose build COMPLETED are returned: a holder whose build
    * threw (or that a concurrent get() put but has not forced yet) is
    * skipped via the `built` flag rather than dereferenced, so cleanup
    * never re-runs a failed or in-flight build. */
  def drain(spark: SparkSession): Seq[V] = m.synchronized {
    val t = m.remove(spark)
    if (t == null) Seq.empty
    else t.values.toSeq.filter(_.built).map(_.value)
  }
}

private[graft] object SessionMemo {
  private val all = new java.util.concurrent.ConcurrentLinkedQueue[SessionMemo[_]]()

  /** [[SessionMemo.drain]] of every memo in the engine. */
  def drainAll(spark: SparkSession): Seq[Any] = {
    val out = Seq.newBuilder[Any]
    all.forEach(m => out ++= m.drain(spark))
    out.result()
  }
}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Every operator in the engine takes `(SparkSession, sfDir)` and reads
  * through these helpers so the scan always starts from the raw parquet —
  * Catalyst then gets a full view for column pruning / filter pushdown
  * (verified via `.explain`: `PushedFilters` + minimal `ReadSchema`).
  *
  * Each table's schema is resolved once per session: a plain
  * `spark.read.parquet` infers it with a Spark job (footer reads in
  * `mergeSchemasInParallel`) on every call, and for a dashboard request
  * that loads several tables those jobs are most of its build time
  * (they queue behind other requests' tasks). The inferred schema is
  * memoized per (session, [[pathFingerprint]]) and handed back as the
  * read's schema, so every call after the first runs no job. Each call still resolves a fresh
  * relation — new attribute ids (self-joins stay unambiguous) and a
  * fresh file listing — and a regenerated file changes the fingerprint,
  * so its schema is inferred again.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = schemaMemo.get(spark, pathFingerprint(spark, path).toString)(
      spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  private val schemaMemo = new SessionMemo[StructType]

  /** Session configs every graft session needs. `nanosAsLong` covers the
    * encoding `events.parquet` carried through round 6 — TIMESTAMP(NANOS),
    * which Spark has no native type for; [[normalizeEventTs]] converts
    * that long back to a µs timestamp losslessly. From round 7 the
    * generator writes native timestamp[us] (read as TIMESTAMP_NTZ, also
    * normalized there); the conf is harmless on µs data and stays so the
    * same session config handles either vintage of testdata.
    *
    * The two `fs.*.file.impl` entries replace the `file:` filesystem of
    * both Hadoop APIs with [[graft.io.NioLocalFileSystem]] and
    * [[graft.io.NioLocalFs]]. Without the native libhadoop the stock one
    * forks a `chmod` for every file or directory it creates and a
    * `readlink` for each path of a FileContext rename: 4,665 processes in
    * one stream_ingest run, on the state-store, offset-log and sink
    * commits of every trigger (20 with these classes). One create +
    * rename of a small file measured 28 ms through the stock FileContext
    * and 5.9 ms through the stock FileSystem, against 0.8 ms and 0.27 ms
    * here (4-vCPU VM). `.crc` checksums and every other operation stay
    * Hadoop's. */
  val requiredConfs: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // graft_bloom_agg delegates to Spark's BloomFilterAggregate, which
    // SILENTLY clamps estimatedNumItems/numBits to these confs (defaults
    // 4M items / 64M bits ≈ 8 MB): past ~6.7M fingerprints the fpp
    // degrades without any error (advisor r8). Raised so the documented
    // 10-bits-per-item sizing (DedupOps.incrementalDedupBloom) holds to
    // ~100M corpus docs / 128 MB blooms — past THAT, shard the bloom by
    // fingerprint prefix as the docstring describes; a >128 MB single
    // broadcast literal is wrong on a real cluster anyway.
    "spark.sql.optimizer.runtime.bloomFilter.maxNumItems" -> "100000000",
    "spark.sql.optimizer.runtime.bloomFilter.maxNumBits" -> "1073741824",
    // Codegen class cache sized to the registry (opt guide §1.2 "per-task
    // work"): the default 100-entry LRU holds ~a handful of queries'
    // generated classes, so any session serving the 322-query registry
    // evicts and re-compiles (Janino) EVERY fragment on EVERY pass — and
    // each recompile yields a fresh class the JIT must warm from zero.
    // Measured on a 24-query bench selection (same build, same window):
    // warm total 26.59 s at the default vs 17.64 s at 10k (−34%), with
    // no query slower. Scale-neutral: any long-lived session (a warm
    // cluster serving many distinct plans) wants the cache sized to its
    // working set, not to 100; 20k entries bounds heap+metaspace to a
    // few hundred MB against the 24 g driver. Static conf — must be on
    // the session builder, hence here with the other builder-applied
    // confs.
    "spark.sql.codegen.cache.maxEntries" -> "20000",
    // `file:` without per-file forks, for FileSystem and FileContext
    "spark.hadoop.fs.file.impl" -> classOf[graft.io.NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[graft.io.NioLocalFs].getName)

  /** Session-scoped cache memoizer: repeated query invocations (Verify,
    * Bench warm-up + timed pass) reuse ONE cached copy per (session,
    * key) instead of stacking a new InMemoryRelation per call. See
    * [[SessionMemo]] for the eviction + single-evaluation contract. */
  private val memo = new SessionMemo[DataFrame]
  def memoCache(spark: SparkSession, key: String)(build: => DataFrame): DataFrame =
    memo.get(spark, key)(build.cache())

  /** Drop every memoized artifact of `spark` and unpersist its cached
    * data. Used by the bench harness between the sf0.001 warm-up and the
    * timed passes: without it the warm-up's cached tables sit in the
    * timed JVM's old gen for the whole run, and with ~100 queries of
    * stacked memo state the resulting GC pressure inflated measured
    * times up to 7× (observed: q69 3.4 s standalone vs 23.7 s mid-bench
    * before this hook). */
  def clearMemo(spark: SparkSession): Unit = {
    SessionMemo.drainAll(spark).foreach {
      case df: Dataset[_] => try df.unpersist(blocking = false) catch { case _: Throwable => () }
      case _ => ()
    }
    try spark.catalog.clearCache() catch { case _: Throwable => () }
  }

  /** Driver-side row count from parquet FOOTER metadata — no Spark job,
    * no data pages. The quadratic-anchor guards use this so a lazy
    * plan-builder stays lazy: the prior `df.count()` guard executed a
    * Spark action at plan-CONSTRUCTION time and re-read the parquet
    * around the memoized frame (advisor, round 6). Counts are cached by
    * (path, latest modification time, total size) so a regenerated table
    * within one JVM lifetime invalidates its entry — a stale count would
    * let the quadratic guards admit an all-pairs join over a grown
    * corpus (advisor r7). */
  private val rowCounts =
    scala.collection.concurrent.TrieMap.empty[(String, Long, Long), Long]

  private def parquetParts(spark: SparkSession, path: String) = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    val parts =
      if (st.isDirectory)
        fs.listStatus(p).filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      else Array(st)
    (conf, parts)
  }

  /** (path, latest mtime, total size) — the cache key that makes a
    * same-JVM regeneration of a table invalidate anything derived from
    * it (row counts here; index artifacts like the q154 bloom key on
    * this too; the per-session schema memo behind [[table]]). */
  def pathFingerprint(spark: SparkSession, path: String): (String, Long, Long) = {
    val (_, parts) = parquetParts(spark, path)
    (path, parts.map(_.getModificationTime).maxOption.getOrElse(0L), parts.map(_.getLen).sum)
  }

  def parquetRowCount(spark: SparkSession, path: String): Long =
    rowCounts.getOrElseUpdate(pathFingerprint(spark, path), {
      val (conf, parts) = parquetParts(spark, path)
      parts.map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum
    })

  /** Footer key under which Spark's parquet writer stores the written
    * schema as JSON (field metadata included). */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Driver-side schema of a Spark-written parquet table, read from one
    * part file's footer — no Spark job, where a schema-inferring
    * `spark.read.parquet` starts one. Not memoized: a table rewritten
    * every micro-batch is read from its current file each call. The
    * footer keeps the writer's `nullable = false` fields; a read with
    * this schema relaxes them as inference does, so the relation's
    * schema equals the inferred one. `None` when the table has no part
    * file or its footer lacks the key (a file Spark did not write). */
  def parquetSchema(spark: SparkSession, path: String): Option[StructType] = {
    val (conf, parts) = parquetParts(spark, path)
    parts.headOption.flatMap { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try Option(r.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey)) finally r.close()
    }.map(json => org.apache.spark.sql.types.DataType.fromJson(json).asInstanceOf[StructType])
  }

  def region(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "lineitem")
  /** Normalize the `ts` column of the events table to an instant-typed
    * µs `TimestampType`, whatever encoding the generated parquet carries:
    *
    *  - `LongType` (nanos-as-long, via `nanosAsLong`): integer-divide to
    *    µs — ns values exceed double's 2^53 exact range, so no
    *    floating-point path allowed.
    *  - `TimestampNTZType` (native `timestamp[us]` with no timezone):
    *    cast to `TimestampType`. The session timezone is pinned to UTC,
    *    so the naive wall-clock values map to the same epoch-µs instants
    *    DuckDB's `epoch_us` computes on the raw parquet.
    *  - `TimestampType`: already what every `unix_micros` site expects.
    *
    * Any other type is a driver-side data-contract change we have not
    * seen; fail loudly at the single choke point instead of letting 22
    * downstream `unix_micros` call sites crash one by one. */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        df.withColumn("ts", df.col("ts").cast(TimestampType))
      case TimestampType => df
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported type $other — expected LongType (nanos-as-long), " +
            "TIMESTAMP_NTZ, or TIMESTAMP. The testdata generator's encoding changed; " +
            "extend Tables.normalizeEventTs for the new contract.")
    }
  }

  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEventTs(table(spark, dir, "events"))
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
