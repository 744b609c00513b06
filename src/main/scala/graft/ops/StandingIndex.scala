package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** The ONE standing-index lifecycle. An index is DECLARED — an ordered
  * list of [[StandingIndex.Sink]]s fed from one shared `prep` pass of the
  * incoming rows — and every operation has a single implementation here:
  * ensure (reuse or build through [[Standing]]), ingest, exactly-once
  * append, the orphan guard before compaction, compaction with its
  * `_COMPACTED` mark, and scan. The gram, shingle and semantic-dedup
  * indexes are declarations over it; PQ and IVF-PQ keep their
  * cluster-partitioned codes layout and share only [[Standing.ensure]].
  *
  * Layouts:
  *  - `Plain`: the sink is a directory of `batch_<id>` subdirectories,
  *    each written with OVERWRITE; its `_SUCCESS` is the batch's commit.
  *    Scans read the committed batch dirs only, so the files of a
  *    crashed write stay invisible until its replay (batch dirs are plain
  *    subdirectories, not hive partitions, so the schema never grows a
  *    phantom column).
  *  - `Bucketed(key, n)`: the sink is a metastore table partitioned by
  *    `batch` and bucketed+sorted on `key`. A batch is one `batch=<id>`
  *    partition written through DYNAMIC partition overwrite (a replay
  *    rewrites only itself), and its commit is the `batches/<id>`
  *    manifest marker in the `_meta` sibling, written after the data.
  *    Partitioning does not cost the bucketing: each bucket id spans
  *    files across partitions and the scan still reports
  *    HashPartitioning(key, n), so key-grouped consumers plan with no
  *    exchange after any number of appends (DedupSpec + PlanAuditSpec).
  *
  * Metadata (`_GRAFT_VALID` marker, `_claims`, `_COMPACTED`, manifest)
  * lives in `meta`: the `_meta` sibling of the bucketed table when the
  * index has one — a sibling, not a subdirectory, because the table path
  * must be empty for the bootstrap CTAS and the metadata must SURVIVE
  * compaction's table rewrite — else the first sink's directory.
  *
  * The BASE batch: ingest is a reset plus an append into a reserved base
  * batch (`base` dir / `batch=-1` partition) that lies outside the
  * caller's id space. Named ids (foreachBatch batch ids start at 0) and
  * auto-claimed ids are ≥ 0, so no later append can mistake the ingest
  * for one of its own committed batches.
  *
  * Exactly-once: an append resolves its id (named, or claimed through
  * `_claims`), skips every sink that already committed the id or whose
  * compaction absorbed it, writes the rest in declared order (the
  * incoming rows prepped ONCE and shared), and commits the bucketed
  * manifest last. Every crash point is repaired by replaying the batch.
  *
  * All I/O goes through [[IndexFs]] — see its declared atomicity scope.
  */
final case class StandingIndex(sinks: Seq[StandingIndex.Sink],
                               prep: DataFrame => DataFrame = identity,
                               counters: Seq[Column] = Nil) {
  import StandingIndex._

  require(sinks.nonEmpty && sinks.count(_.layout != Plain) <= 1,
    "a standing index has sinks, at most one of them bucketed")

  val meta: String = sinks.collectFirst {
    case s if s.layout != Plain =>
      val m = Scale.bucketPath(s.at) + "_meta"
      Scratch.track(m)
      m
  }.getOrElse(sinks.head.at)

  /** Reuse the index built for source fingerprint `fp`, or ingest
    * `source` and mark it; returns the first two ingest counters. */
  def ensure(fp: String)(source: => DataFrame): (Long, Long) =
    Standing.ensure(meta, fp, Standing.Counters) {
      val c = ingest(source)
      (c(0), c(1))
    }

  /** Rebuild from `rows`: reset, then append them as the base batch.
    * Returns the `counters` observed on the first sink's write (zero
    * extra pass — an observe node on the write itself). */
  def ingest(rows: DataFrame): Seq[Long] = {
    reset(rows.sparkSession)
    write(rows, Base, observe = true)
  }

  /** Drop the marker FIRST (no crash window in which a marker blesses a
    * half-cleaned index), then every sink, the catalog entry, and the
    * metadata — claims, manifest and high-water mark reset with the
    * data, so ingest means "rebuild from this corpus", never "append to
    * whatever was there". */
  def reset(spark: SparkSession): Unit = {
    Standing.invalidate(meta)
    sinks.foreach { s =>
      if (s.layout != Plain) spark.sql(s"DROP TABLE IF EXISTS `${s.at}`")
      IndexFs.delete(s.path)
    }
    IndexFs.delete(meta)
  }

  /** EXACTLY-ONCE append of one batch. `batchId < 0` claims an unused id
    * durably ([[claimBatchId]]); a named id makes the append idempotent —
    * a committed replay no-ops without a Spark job, a crashed one
    * rewrites its own batch. Appending to an empty index bootstraps it. */
  def append(rows: DataFrame, batchId: Long = -1L): Unit = {
    write(rows, if (batchId >= 0) batchId else claimBatchId(), observe = false)
    ()
  }

  private def write(rows: DataFrame, id: Long, observe: Boolean): Seq[Long] = {
    val absorbed = id <= compactedThrough
    val todo = sinks.filterNot(s => committed(s, id) || absorbed && s.merge.isDefined)
    if (todo.isEmpty) return Nil // committed: replay no-op
    // clear a crashed partial before any build lists the index (a build
    // may read the standing index, and must never see its own batch)
    todo.filter(_.layout == Plain)
      .foreach(s => IndexFs.delete(s"${s.at}/${dirName(id)}"))
    val p0 = prep(rows)
    val p = if (todo.size > 1) p0.persist() else p0 // one prep, many sinks
    try todo.zipWithIndex.flatMap { case (s, i) =>
      val out = s.build(p)
      if (i > 0 || !observe || counters.isEmpty) { writeSink(s, out, id); Nil }
      else {
        // a write executes its own QE, not out.queryExecution — harvest
        // the counters through the listener bridge (GraftBridge scaladoc)
        val (_, m) = org.apache.spark.sql.GraftBridge.observedFromAction(
            rows.sparkSession, "index_ingest") {
          writeSink(s, out.observe("index_ingest", counters.head,
            counters.tail: _*), id)
        }
        val r = m.getOrElse(sys.error(
          "index ingest wrote successfully but its observed counters never " +
            "arrived — a metrics-plumbing regression (the write's QE must " +
            "carry the observe node; see GraftBridge.observedFromAction)"))
        (0 until r.length).map(j => if (r.isNullAt(j)) 0L else r.getLong(j))
      }
    } finally if (todo.size > 1) { p.unpersist(); () }
  }

  private def writeSink(s: Sink, rows: DataFrame, id: Long): Unit =
    s.layout match {
      case Plain =>
        rows.write.mode("overwrite").parquet(s"${s.at}/${dirName(id)}")
      case Bucketed(key, n) =>
        val spark = rows.sparkSession
        val withBatch = rows.withColumn("batch", lit(id))
        if (!spark.catalog.tableExists(s.at))
          withBatch.write.partitionBy("batch").bucketBy(n, key).sortBy(key)
            .option("path", s.path).saveAsTable(s.at)
        else {
          // dynamic partition overwrite scoped to a session CLONE (the
          // bloomSketchBytes mechanism): the catalog-table insert path
          // reads the SESSION conf, not the writer option (measured — a
          // static overwrite wipes every other batch), and mutating the
          // shared session would leak overwrite semantics to concurrent
          // writers. Catalog entries live in shared state, so the clone
          // sees the table.
          val scoped = org.apache.spark.sql.GraftBridge.cloneSession(spark)
          scoped.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
          org.apache.spark.sql.GraftBridge.withSession(
              withBatch.select(spark.table(s.at).columns.map(col(_)): _*),
              scoped)
            .write.mode("overwrite").insertInto(s.at)
          // the insert refreshed the CLONE's relation cache; the caller's
          // session still holds the pre-overwrite file listing
          spark.catalog.refreshTable(s.at)
        }
        IndexFs.mkdirs(s"$meta/batches/$id") // the manifest: commit last
    }

  private def committed(s: Sink, id: Long): Boolean = s.layout match {
    case Plain => s.committed(id)
    case _ => IndexFs.exists(s"$meta/batches/$id")
  }

  /** Batch ids present in any sink (committed or not). */
  def batchIds: Seq[Long] = sinks.flatMap(_.ids).distinct

  /** Claim the next unused auto batch id by ATOMIC create-if-absent of
    * a DURABLE marker file under `<meta>/_claims/` — a namespace no data
    * write ever touches. A plain max+1 read is a TOCTOU race (two
    * concurrent appenders pick the same id), and claiming the batch DATA
    * dir is worse: the mode("overwrite") write DELETES it before
    * recreating, and in that window a concurrent auto-id appender could
    * re-claim the freed id — two batches silently overwriting each
    * other. Claim markers are empty FILES created via
    * [[IndexFs.createExclusive]] (atomic on local/HDFS; object stores
    * lack ANY atomic create-if-absent — there, name your batches) and
    * NEVER removed, so a claim outlives any crash or rewrite of its
    * batch: the id is burned, never reusable. Candidates start past
    * existing batches, prior claims and the compaction mark (named-batch
    * replays bypass claims, so a named id below the claim watermark stays
    * replayable). */
  def claimBatchId(): Long = {
    val claims = s"$meta/_claims"
    IndexFs.mkdirs(claims)
    // tolerate non-numeric detritus (NFS tombstones, stray sidecars) —
    // a foreign file must not brick every future auto-id append
    val claimed = IndexFs.childNames(claims)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong)
    var cand = (Base +: compactedThrough +: (batchIds ++ claimed)).max + 1L
    while (!IndexFs.createExclusive(s"$claims/$cand")) cand += 1
    cand
  }

  /** The compaction high-water mark: every batch with id ≤ this (the
    * base batch included) has been absorbed into the merged sinks'
    * compacted batch, so a REPLAY of such a batch must not re-emit it
    * there (a df partial would double-count). `Long.MinValue` when never
    * compacted. */
  private def compactedThrough: Long = IndexFs.readStringOpt(s"$meta/_COMPACTED")
    .map(_.trim.toLong).getOrElse(Long.MinValue)

  /** COMPACTION: every sink with a `merge` rewritten through it as ONE
    * batch under the highest existing id (the gram df partials merge by
    * sum: a merged prefix is itself a valid partial, so `compact(any
    * prefix of appends) then more appends == from-scratch` holds by
    * associativity). After N appends, consumers stop paying the N-way
    * in-bucket merge and the N-dir listing. A sink without a merge keeps
    * its batches as written: its rows are already final, and the gram
    * postings would cost an O(postings) rewrite to save a listing. The
    * `_COMPACTED` mark is written BEFORE the rewrite, so replays of
    * absorbed batches no-op in the merged sinks from then on and later
    * auto ids stay ahead.
    *
    * The ORPHAN GUARD first: a batch that some sink has not committed (a
    * crash inside or between the append's writes) must be REPLAYED
    * before compaction — compacting would raise the mark over its id
    * without its rows, and the replay's absorbed-skip would leave the
    * merged sinks short forever. Inductively, ids at or below the mark
    * were absorbed complete, so only ids above it can be orphans.
    *
    * Not atomic — a crash mid-compact can lose a sink, which is DERIVED
    * state rebuildable from the source; run it in the maintenance window,
    * never the serving path, and never concurrently with appends. */
  def compact(spark: SparkSession): Unit = {
    val mark = compactedThrough
    val ids = batchIds
    val orphans = ids.filter(id => id > mark && sinks.exists(!committed(_, id)))
    require(orphans.isEmpty,
      s"standing index at $meta: batch(es) ${orphans.sorted.mkString(",")}" +
        " are not committed in every sink (a crashed append?) — replay" +
        " them (append with the same batchId) before compacting")
    val merged = sinks.filter(_.merge.isDefined)
    if (ids.size <= 1 || merged.isEmpty) return // nothing to merge
    val maxId = ids.max
    IndexFs.writeString(s"$meta/_COMPACTED", maxId.toString)
    merged.foreach { s =>
      val tmp = s.path + "_compact_tmp"
      Scratch.track(tmp)
      s.scan(spark).write.mode("overwrite").parquet(tmp)
      s.layout match {
        case Plain =>
          s.ids.foreach(id => IndexFs.delete(s"${s.at}/${dirName(id)}"))
          IndexFs.rename(tmp, s"${s.at}/${dirName(maxId)}")
        case Bucketed(key, n) =>
          spark.read.parquet(tmp).withColumn("batch", lit(maxId))
            .write.mode("overwrite")
            .partitionBy("batch").bucketBy(n, key).sortBy(key)
            .option("path", s.path).saveAsTable(s.at)
          IndexFs.delete(tmp)
      }
    }
  }

  /** SCAN of the named sink (the first by default). */
  def scan(spark: SparkSession, sink: String = sinks.head.name): DataFrame =
    sinks.find(_.name == sink)
      .getOrElse(sys.error(s"no sink $sink in the index at $meta"))
      .scan(spark)
}

object StandingIndex {
  sealed trait Layout
  case object Plain extends Layout
  final case class Bucketed(key: String, buckets: Int) extends Layout

  /** One sink: `build` turns the prepped batch into this sink's rows,
    * written under `layout` at `at` (a directory for Plain, a metastore
    * table name for Bucketed). `merge`, when given, folds the sink's
    * per-batch partials into one — applied on scan and by compaction,
    * which rewrites only the sinks that have one ([[Concat]] for rows
    * that merge by concatenation). */
  final case class Sink(name: String, at: String, layout: Layout,
                        build: DataFrame => DataFrame = identity,
                        merge: Option[DataFrame => DataFrame] = None) {
    private[ops] def path: String = layout match {
      case Plain => at
      case _ => Scale.bucketPath(at)
    }

    private[ops] def ids: Seq[Long] = {
      val prefix = if (layout == Plain) "batch_" else "batch="
      IndexFs.childNames(path, dirsOnly = true).flatMap { n =>
        if (n == "base") Some(Base)
        else if (n.startsWith(prefix)) n.stripPrefix(prefix).toLongOption
        else None
      }
    }

    private[ops] def committed(id: Long): Boolean =
      IndexFs.exists(s"$at/${dirName(id)}/_SUCCESS")

    /** The sink's rows, partials merged. A plain scan reads the committed
      * batch dirs only; a bucketed scan keeps the bucket-aware table read
      * and drops the `batch` maintenance column, so consumers see the
      * same schema as the plain layout. */
    private[ops] def scan(spark: SparkSession): DataFrame = {
      val raw = layout match {
        case Plain =>
          val dirs = ids.filter(committed).sorted.map(id => s"$at/${dirName(id)}")
          require(dirs.nonEmpty, s"no committed batches at $at")
          spark.read.parquet(dirs: _*)
        case _ => spark.table(at).drop("batch")
      }
      merge.fold(raw)(_(raw))
    }
  }

  /** The reserved base batch id (ingest), outside every caller's id space. */
  val Base: Long = -1L

  /** The merge of a sink whose per-batch rows are disjoint: compaction
    * concatenates them into one batch. */
  val Concat: Option[DataFrame => DataFrame] = Some(identity)

  private def dirName(id: Long): String = if (id == Base) "base" else s"batch_$id"
}
