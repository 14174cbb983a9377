package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Registry for session-scoped persisted frames (the shingle/vector/profile
  * histograms that several queries reference repeatedly — see the measured
  * CollapseProject trap notes in operators/Dedup.scala).
  *
  * Keys embed a source fingerprint ([[fingerprint]]) so a long-lived session
  * re-reading a directory whose parquet files were rewritten gets a fresh
  * frame instead of stale cached data, and [[clear]] unpersists everything —
  * the lifecycle guard the round-1 ADVICE asked for (TrieMaps that never
  * invalidate or unpersist).
  */
object Caches {

  private val frames = TrieMap.empty[String, DataFrame]
  private val values = TrieMap.empty[String, Any]
  private[graft] val preparedPlans = TrieMap.empty[String,
    (String, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)]

  /** Memoize the ANALYZED LOGICAL PLAN in `slot` — the prepared-statement
    * registry Q uses. Only the plan is kept, never a Dataset: a Dataset
    * freezes its lazy QueryExecution/executedPlan at first forcing, which
    * made plan inspection order- and conf-dependent (r16 ADVICE: the
    * shuffle-budget audit counted 0 exchanges on frames another test had
    * already forced under AQE). Callers re-wrap the plan per invocation
    * (GraftBridge.ofRows), so every call gets a fresh QueryExecution —
    * optimization, physical planning, AQE and execution re-run under the
    * current conf. A slot holds one plan, for one `version`: the input
    * fingerprint and the conf that analysis bakes into the plan (Q adds
    * time zone, ANSI mode and case sensitivity). A new version replaces the
    * old plan in place, so the map is bounded by the slots in use. Entries
    * hold no storage: dropping one loses only analysis work.
    */
  def preparedPlan(slot: String, version: String)(mk: => DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    preparedPlans.get(slot) match {
      case Some((v, plan)) if v == version => plan
      case _ =>
        val plan = mk.queryExecution.analyzed
        preparedPlans.put(slot, (version, plan))
        plan
    }

  /** Memoize a driver-side computed value (e.g. the exact medians a profile
    * call derives from its persisted histogram) under `key`.
    */
  def memo[T](key: String)(mk: => T): T =
    values.getOrElseUpdate(key, mk).asInstanceOf[T]

  /** Test seam: when set, [[getOrElseUpdate]] re-persists each NEWLY built
    * frame at this level instead of the builder's (builders hardcode their
    * serving levels). CachesSpec uses DISK_ONLY to prove the registry's
    * worst eviction case — every byte spilled, zero storage memory — stays
    * byte-identical and green; production never sets it.
    */
  @volatile private[graft] var levelOverride: Option[org.apache.spark.storage.StorageLevel] = None

  /** Memoize a persisted frame under `key`; the caller's `mk` must already
    * call `.persist()` (this registry manages lifetime, not storage level).
    */
  def getOrElseUpdate(key: String, mk: => DataFrame): DataFrame =
    frames.getOrElseUpdate(key, {
      val df = mk
      levelOverride.fold(df) { lvl =>
        df.unpersist(blocking = true) // a level can't change once assigned
        df.persist(lvl)
      }
    })

  /** Force-materialize every registered frame (full scan via count) and
    * return per-key wall seconds, key-sorted. Bench calls this between its
    * untimed warm-up pass and the timed passes so a shared frame's build
    * cost can never land on whichever timed consumer happens to run first
    * — the attribution-stability guard the round-7 review asked for. On an
    * already-warm registry each entry is a cache scan (~tens of ms), and
    * the returned timings document exactly that in BENCH_FULL.json.
    */
  def warm(): Seq[(String, Double)] = frames.toSeq.sortBy(_._1).map {
    case (k, df) =>
      val t0 = System.nanoTime()
      try df.count() catch { case _: Exception => () }
      k -> (System.nanoTime() - t0) / 1e9
  }

  /** Per-frame materialized cache size in bytes, key-sorted — the root
    * InMemoryRelation's post-materialization stats (call after [[warm]];
    * 0 for a frame whose cache lookup missed). This is the registry's
    * actual executor-storage footprint, answering the 100 TB memory
    * question ("what do the shared frames HOLD?") with a measured number
    * in the bench artifact instead of a plan-reading argument.
    */
  def bytes(): Seq[(String, Long)] = frames.toSeq.sortBy(_._1).map {
    case (k, df) =>
      val b = df.queryExecution.withCachedData.collectFirst {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
          r.stats.sizeInBytes.toLong
      }.getOrElse(0L)
      k -> b
  }

  /** Per-frame storage level, key-sorted — the eviction-safety audit
    * surface: a frame whose level lacks the disk tier would be silently
    * DROPPED (and rebuilt) under memory pressure; one with it degrades to
    * disk reads. CachesSpec pins useDisk across the registry.
    */
  def levels(): Seq[(String, org.apache.spark.storage.StorageLevel)] =
    frames.toSeq.sortBy(_._1).map { case (k, df) => k -> df.storageLevel }

  /** Unpersist and forget every registered frame (idempotent; safe while
    * queries are not running). Call between runs or before session stop.
    */
  def clear(): Unit = synchronized {
    frames.foreach { case (_, df) =>
      try df.unpersist() catch { case _: Exception => () }
    }
    frames.clear()
    values.clear()
    preparedPlans.clear()
    fingerprints.clear()
  }

  /** Cheap content fingerprint of a data directory: file count + max
    * modification time + total bytes via the Hadoop FileSystem API, so cache
    * keys change when the underlying parquet is rewritten.
    */
  def fingerprint(spark: SparkSession, dir: String): String = {
    try {
      val path = new org.apache.hadoop.fs.Path(dir)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(path, true)
      var n = 0L; var maxMod = 0L; var bytes = 0L
      while (it.hasNext) {
        val st = it.next()
        n += 1; bytes += st.getLen
        if (st.getModificationTime > maxMod) maxMod = st.getModificationTime
      }
      s"$n:$maxMod:$bytes"
    } catch { case _: Exception => "na" }
  }

  private val fingerprints = TrieMap.empty[String, (String, String)]

  /** First-level stamp of a path: one driver-side `listStatus` giving the
    * name, modification time and length of each direct child (of the file
    * itself when the path is a file), name-sorted. No recursion and no
    * Spark job. What it catches: any change to a direct child, including a
    * file added, removed or replaced inside a child directory, because
    * that bumps the child directory's mtime (a rewritten `activity_id=…`
    * partition, a new partition, an overwrite or an append). What it does
    * not catch: a change two or more levels down, whose bump stops at a
    * grandchild. `None` when the path cannot be listed (e.g. missing).
    */
  def stamp(spark: SparkSession, path: String): Option[String] =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      Some(fs.listStatus(p)
        .map(st => s"${st.getPath.getName}:${st.getModificationTime}:${st.getLen}")
        .sorted.mkString("|"))
    } catch { case _: Exception => None }

  /** [[fingerprint]] memoized per (session, dir) behind the dir's [[stamp]]:
    * the full recursive listing re-runs only when the stamp changes, so a
    * hit costs one `listStatus`. Rationale (r16 ADVICE): Q computes a
    * fingerprint per query CONSTRUCTION, and a recursive listing 165+ times
    * per suite pass is a per-query driver fixed cost of exactly the kind
    * the memo was built to remove. Staleness contract: the stamp's. A
    * table file replaced in `dir`, or a file or partition added, removed or
    * replaced inside a table directory one level down, re-lists. A rewrite
    * inside a partition of a partitioned table (two levels down) does not,
    * and such a caller must invalidate via [[clear]].
    */
  def fingerprintCached(spark: SparkSession, dir: String): String =
    stamp(spark, dir).fold(fingerprint(spark, dir)) { st =>
      val mapKey = s"${org.apache.spark.sql.GraftBridge.sessionUUID(spark)}:$dir"
      fingerprints.get(mapKey) match {
        case Some((seen, fp)) if seen == st => fp
        case _ =>
          val fp = fingerprint(spark, dir)
          fingerprints.put(mapKey, (st, fp))
          fp
      }
    }
}
