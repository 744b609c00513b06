package graft.ops

/** Content-addressed validity markers for standing indexes (r9 verdict
  * item: "make the standing indexes actually stand").
  *
  * Every registry query is a pure function of (spark, sfDir) — the right
  * contract — but through round 9 that purity was implemented by
  * REBUILDING each standing index (PQ codes, gram postings, shingle
  * sets) on every call: q122+q126 paid `pqIngest` twice per bench run,
  * q125/q127 re-tokenized the corpus per call, so the measured 63%/1000×
  * ingest amortization existed only in tools benches. The fix: after a
  * completed build, write a `_GRAFT_VALID` marker into the index root
  * holding a FINGERPRINT of the source data (file-stat based: name,
  * size, mtime of every input file — zero Spark jobs, invalidated by any
  * rewrite of the inputs) plus a small payload (ingest counters, corpus
  * size). A later call with the same fingerprint REUSES the completed
  * index; any change to the inputs — or a different (dataset, app)
  * Scratch root — rebuilds. The underscore name keeps the marker
  * invisible to Spark's file index, so readers of the root never see it.
  *
  * The marker is written AFTER the build completes (the `_SUCCESS`
  * discipline, one level up): a crash mid-build leaves no marker, so the
  * next call rebuilds — never serves a half-written index.
  *
  * All I/O goes through [[IndexFs]] (Hadoop `FileSystem` API, r12), so
  * index roots and source paths may live on any Hadoop-supported store
  * (local, HDFS, object stores) — see IndexFs's declared atomicity
  * scope. The marker itself needs no atomicity: it is written once,
  * after the build, and a torn read of a half-written marker fails the
  * fingerprint compare and rebuilds — safe, not wrong.
  */
object Standing {

  /** File-stat fingerprint of the given input paths (files or
    * directories, walked recursively in name order): changes when any
    * input file is added, removed, renamed, resized, or rewritten.
    * Content-addressed at the file-metadata level — no data is read and
    * no Spark job runs, which is the point: the check must be free
    * relative to the ingest it may skip. */
  def fingerprint(paths: String*): String = {
    val stats = paths.flatMap(IndexFs.statWalk)
      .map { case (p, len, mtime) => s"$p:$len:$mtime" }
      .mkString("\n")
    java.security.MessageDigest.getInstance("MD5")
      .digest(stats.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
  }

  private def marker(root: String) = s"$root/_GRAFT_VALID"

  /** The payload stored by [[markValid]], iff `root` holds a completed
    * build for exactly this fingerprint; None → caller must (re)build. */
  def validPayload(root: String, fp: String): Option[String] =
    IndexFs.readStringOpt(marker(root)).flatMap { text =>
      val lines = text.split("\n", 2)
      if (lines.head == fp) Some(if (lines.length > 1) lines(1) else "")
      else None
    }

  /** The marker's (fingerprint, payload) regardless of fingerprint — for
    * MAINTENANCE operations (incremental appends) that must read the
    * standing model and rewrite its payload under the SAME fingerprint:
    * an append changes the index contents but not the source the
    * fingerprint guards, so the guard survives and a SOURCE rewrite
    * still forces the full rebuild. */
  def current(root: String): Option[(String, String)] =
    IndexFs.readStringOpt(marker(root)).map { text =>
      val lines = text.split("\n", 2)
      (lines.head, if (lines.length > 1) lines(1) else "")
    }

  /** Remove the validity marker, if any — the first step of a REBUILD
    * that must also clean derived state (stale append batches; see
    * [[StandingIndex.reset]]): dropping the marker before deleting
    * anything guarantees no crash window in which a marker still claims a
    * half-cleaned index valid. */
  def invalidate(root: String): Unit =
    IndexFs.delete(marker(root))

  /** Record a completed build of `root` for source fingerprint `fp`,
    * with an optional payload (ingest counters, model sizes) the reuse
    * path hands back without recomputation. Call ONLY after every sink
    * of the build is fully written. */
  def markValid(root: String, fp: String, payload: String = ""): Unit =
    IndexFs.writeString(marker(root), fp + "\n" + payload)

  /** How an index's payload round-trips through the marker: the counters
    * or model a reuse hands back without recomputation. */
  final case class Codec[P](encode: P => String, decode: String => P)

  /** Two ingest counters, space-separated — the gram and shingle
    * indexes' payload. */
  val Counters: Codec[(Long, Long)] = Codec(c => s"${c._1} ${c._2}",
    p => { val a = p.trim.split(" "); (a(0).toLong, a(1).toLong) })

  /** ENSURE: the one reuse-or-build scaffold every standing index goes
    * through (gram, shingle, semantic dedup, PQ, IVF-PQ). Returns the
    * payload of a completed build for exactly this fingerprint; otherwise
    * runs `build` (which must fully write the index) and then marks it
    * valid with the payload `build` returned. */
  def ensure[P](root: String, fp: String, codec: Codec[P])(build: => P): P =
    validPayload(root, fp) match {
      case Some(p) => codec.decode(p)
      case None =>
        val c = build
        markValid(root, fp, codec.encode(c))
        c
    }
}
