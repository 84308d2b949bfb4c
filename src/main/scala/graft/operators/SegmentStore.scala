package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Segmented state that queries reuse across runs and sessions: the
  * minhash signature state of [[Dedup]] and the IVF index state of
  * [[Sim]]. One format, owned here; a store instance names only what
  * differs — its kind, its format version, the table it is
  * fingerprinted on, its id and cluster columns, the columns a read
  * returns, and what the base build writes ([[build]]).
  *
  * Layout: `java.io.tmpdir/graft-<kind>-md5(d)-md5(version@fingerprint)`
  * holds `seg=NNNNN` directories. The version folds the format version
  * and the build parameters, and the fingerprint is the source table's,
  * so a regenerated fixture or a format/parameter change gets fresh
  * state, while an unchanged one reuses what an earlier run (even a
  * different JVM) wrote. The fixture hash is a separate prefix so
  * superseded versions of the same fixture are enumerable and reclaimed
  * on the next base publish. Every segment row carries `tomb`; only
  * tombstone rows (id, nulls, `tomb = true`) set it.
  *
  * Lifecycle (the LSM discipline: ingest never rewrites the
  * corpus-sized base, read amplification is reclaimed by compaction):
  *  - [[ensure]]: first touch of a version runs the base build into a
  *    `.stage-*` dir and publishes it by atomic rename;
  *  - [[append]]: one delta as the next segment, O(delta) work;
  *  - [[compact]]: the live view folded into one `_COMPACT` segment;
  *  - [[read]]: the live view, latest segment wins per id.
  *
  * Staging + rename (instead of writing into the final path) makes the
  * state safe under concurrent writers: two JVMs racing the same
  * missing state each write a private stage dir, exactly one rename
  * wins, the loser deletes its stage — a reader never observes a
  * half-written directory. (Local-FS state ⇒ nio ATOMIC_MOVE is
  * available; an object-store deployment would swap [[publish]] for a
  * rename-capable committer or a lock file, same contract.) */
private[graft] abstract class SegmentStore(s: SparkSession, kind: String,
    d: String, version: String, table: String, id: String,
    cluster: Seq[String], cols: Seq[String]) {
  import SegmentStore._

  val path: String = {
    val key = s"$version@" + Tables.pathFingerprint(s, s"$d/$table.parquet")
    s"${sys.props("java.io.tmpdir")}/graft-$kind-${md5(d)}-${md5(key)}"
  }
  private val root = new Path(path)
  private val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** The one-time base build: write the base segment's rows (through
    * [[rows]]) to `base`; anything else the state carries goes under
    * `stage`, which is published whole. */
  protected def build(stage: String, base: String): Unit

  /** `df` as segment rows: `tomb = false`, clustered by the store's
    * cluster columns so a read scans co-located groups. */
  protected def rows(df: DataFrame): DataFrame =
    df.withColumn("tomb", lit(false))
      .repartition(s.sessionState.conf.numShufflePartitions,
        cluster.map(col): _*)

  /** Build the state if this version has no committed segment yet, and
    * return its root. On a won publish, stale sibling versions and
    * orphaned stage dirs are reclaimed. */
  def ensure(): String = {
    if (segments(fs, root).isEmpty) {
      val tmp = stagePath()
      try {
        build(tmp.toString, s"$tmp/seg=00000")
        if (publish(fs, tmp, root)) reclaim()
      } finally if (fs.exists(tmp)) fs.delete(tmp, true)
      require(segments(fs, root).nonEmpty,
        s"$kind base build failed to publish under $path")
    }
    path
  }

  /** Ingest one delta as a new segment: `delta`'s rows plus one
    * tombstone row per `tombIds` entry, published under the next free
    * slot. On a lost race (a concurrent appender took the slot) it
    * re-lists and retries — appends commute, they only need distinct
    * slots. The head is guarded because a concurrent fingerprint-change
    * reclaim can empty the root mid-append, and the stage dir is
    * removed on any mid-write failure. Compacts when [[compactDue]]. */
  def append(delta: DataFrame, tombIds: Seq[Long] = Nil): Unit = {
    ensure()
    val fresh = rows(delta)
    val seg =
      if (tombIds.isEmpty) fresh
      else {
        import s.implicits._
        fresh.unionByName(tombIds.toDF(id).select(fresh.schema.map { f =>
          if (f.name == id) col(id)
          else if (f.name == "tomb") lit(true).as("tomb")
          else lit(null).cast(f.dataType).as(f.name)
        }: _*))
      }
    var attempts = 0
    var published = false
    while (!published && attempts < 5) {
      val segs = segments(fs, root)
      require(segs.nonEmpty,
        s"$kind state under $path was reclaimed mid-append (corpus version " +
          "changed concurrently); re-run the ingest against the new state")
      val tmp = stagePath()
      try {
        seg.write.mode("overwrite").parquet(tmp.toString)
        published = publish(fs, tmp, segPath(segs.last._1 + 1))
      } finally if (fs.exists(tmp)) fs.delete(tmp, true)
      attempts += 1
    }
    require(published, s"$kind append lost $attempts publish races under $path")
    if (compactDue(fs, root)) compact()
  }

  /** Fold every live segment into one segment and drop the dead ones:
    * the merged view is rewritten clustered, published as the next
    * segment with a `_COMPACT` marker (reads ignore everything older),
    * then the superseded segments are deleted. Crash-safe at every
    * step: the marker rides inside the atomically renamed dir, so a
    * crash before publish leaves the old segments authoritative, and a
    * crash after publish only delays the deletes to the next
    * compaction. The marker goes through the Hadoop FileSystem API, the
    * data's own store. A no-op on a single-segment state. */
  def compact(): Unit = {
    val segs = segments(fs, root)
    if (segs.size <= 1) return
    val tmp = stagePath()
    try {
      rows(read()).write.mode("overwrite").parquet(tmp.toString)
      fs.create(new Path(tmp, "_COMPACT")).close()
      if (publish(fs, tmp, segPath(segs.last._1 + 1)))
        segs.foreach { case (_, p) => fs.delete(p, true) }
    } finally if (fs.exists(tmp)) fs.delete(tmp, true)
  }

  /** The live view: segments from the last compaction on, latest
    * segment wins per id, tombstones dropped, `cols` selected. A single
    * live segment (fresh or just compacted — the steady state) is a
    * plain clustered scan. Otherwise, while the delta segments' bytes
    * stay within `deltaBcBytes`, each segment is anti-joined against a
    * broadcast of the newer segments' ids: the base streams with zero
    * exchanges, and what moves is keys, not payloads. The union +
    * groupBy/max(seg) merge it replaced shuffled the corpus-sized base
    * twice because a few MB of delta arrived (100× replica, base
    * 1.29 GB, deltas 3.5 MB: multi-segment reads 22–34 s against 26.6 s
    * compacted, and the measuring run filled the disk with the reads'
    * shuffle files). Above the gate (a backfill bigger than a broadcast)
    * that shuffle merge is the honest cost, and [[compactDue]] keeps the
    * regime rare. */
  def read(deltaBcBytes: Long = DeltaBcBytes): DataFrame = {
    ensure()
    val segs = live(fs, root)
    val merged =
      if (segs.size == 1) s.read.parquet(segs.head._2.toString)
      else if (segs.tail.map(e => bytes(fs, e._2)).sum <= deltaBcBytes) {
        val reads = segs.map { case (_, p) => s.read.parquet(p.toString) }
        reads.zipWithIndex.map { case (df, i) =>
          val newer = reads.drop(i + 1)
          if (newer.isEmpty) df
          else df.join(broadcast(newer.map(_.select(col(id))).reduce(_ union _)),
            Seq(id), "left_anti")
        }.reduce(_ unionByName _)
      } else {
        val all = segs.map { case (n, p) =>
          s.read.parquet(p.toString).withColumn("seg", lit(n)) }
          .reduce(_ unionByName _)
        val latest = all.groupBy(col(id).as(s"${id}_l"))
          .agg(max(col("seg")).as("seg_l"))
        all.join(latest, col(id) === col(s"${id}_l") && col("seg") === col("seg_l"))
      }
    merged.filter(!col("tomb")).select(cols.map(col): _*)
  }

  private def segPath(n: Int): Path = new Path(root, f"seg=$n%05d")

  private def stagePath(): Path =
    new Path(path + ".stage-" + java.util.UUID.randomUUID().toString.take(8))

  /** Reclaim superseded state of this fixture: every sibling
    * `graft-<kind>-<fixture-hash>-*` dir other than this version's —
    * older fingerprint, parameters or format, which nothing will read
    * again — and any orphaned `.stage-*` dir a crashed writer left.
    * Without it every fixture regeneration and every parameter change
    * would leak a full corpus-sized state into java.io.tmpdir. */
  private def reclaim(): Unit = {
    val cur = new java.io.File(path)
    val prefix = cur.getName.split("-").init.mkString("-") + "-"
    Option(cur.getParentFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName != cur.getName &&
        f.getName.startsWith(prefix))
      .foreach(f => fs.delete(new Path(f.getAbsolutePath), true))
  }
}

private[graft] object SegmentStore {
  /** Compaction gate, count leg: at most this many live segments never
    * fold. Measured on the 100× replica (ANN multi-segment reads,
    * round 14): the step cost is crossing from 1 segment to any
    * multi-segment state (warm stored search 0.73 s compacted →
    * 1.26–1.52 s, ≈2×), while additional bounded deltas are nearly
    * flat (1k-row segments; the base dominates the merge). 4 amortizes
    * one ~3 s compaction over 4 ingests while most reads stay
    * compacted. */
  val CompactSegs = 4
  /** Byte-ratio leg: fold only once delta bytes reach this fraction of
    * the base. A pure count trigger makes every (CompactSegs+1)-th
    * ingest pay a full-corpus rewrite — O(corpus/delta) write
    * amplification on a fixed cadence, unbounded where deltas are a
    * vanishing fraction of the base. Gating on bytes makes the cadence
    * proportional to corpus size (amortized rewrite cost per ingested
    * byte ≤ 1/ratio), and the round-14 table above shows deferring
    * costs only the already-paid 2× multi-segment step. */
  val CompactRatio = 0.10
  /** Hard count cap: bounds listing/union width regardless of bytes, so
    * byte-gated deferral can never unbound the read plan. */
  val CompactMaxSegs = 16
  /** Delta bytes under which [[SegmentStore.read]] merges by broadcast
    * anti-join: 64 MB of delta parquet is ≲1M id keys at the ≥64 B/row
    * either schema floors, a key broadcast well inside the
    * [[Hints.DimMaxBroadcastRows]] discipline. Absolute on purpose —
    * broadcastability is a memory bound, it does not scale with the
    * base. */
  val DeltaBcBytes: Long = 64L << 20

  /** Committed segment dirs under `root`, ascending. A segment is
    * listed only once its parquet `_SUCCESS` marker exists — and since
    * segments are published by atomic rename, a listed one is whole. */
  def segments(fs: FileSystem, root: Path): Seq[(Int, Path)] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("seg="))
      .map(st => (st.getPath.getName.stripPrefix("seg=").toInt, st.getPath))
      .filter { case (_, p) => fs.exists(new Path(p, "_SUCCESS")) }
      .sortBy(_._1)

  /** The segments a read merges: the newest `_COMPACT` segment (or the
    * base build) and everything after it. */
  def live(fs: FileSystem, root: Path): Seq[(Int, Path)] = {
    val segs = segments(fs, root)
    segs.drop(segs.lastIndexWhere { case (_, p) =>
      fs.exists(new Path(p, "_COMPACT")) } max 0)
  }

  /** Fold when the live count exceeds [[CompactSegs]] AND the delta
    * bytes reach [[CompactRatio]] × base bytes — or unconditionally
    * above the [[CompactMaxSegs]] cap. */
  def compactDue(fs: FileSystem, root: Path): Boolean = {
    val segs = live(fs, root)
    if (segs.size <= CompactSegs) false
    else if (segs.size > CompactMaxSegs) true
    else segs.tail.map(e => bytes(fs, e._2)).sum >=
      (CompactRatio * (bytes(fs, segs.head._2) max 1L)).toLong
  }

  private def bytes(fs: FileSystem, p: Path): Long =
    fs.getContentSummary(p).getLength

  /** Move `tmp` to `dest` by ATOMIC rename; on failure (the destination
    * exists: a racing writer won) delete `tmp`. Returns whether this
    * call's rename won. */
  private def publish(fs: FileSystem, tmp: Path, dest: Path): Boolean =
    try {
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(dest.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      true
    } catch { case _: java.io.IOException => fs.delete(tmp, true); false }

  private def md5(x: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
}
