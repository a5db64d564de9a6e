package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/**
 * Shared versioned-directory plumbing for the persisted indexes
 * ([[MinhashIndex]], [[IvfIndex]]): immutable `v00001/`-style version
 * directories committed by an atomically-renamed `LATEST` pointer,
 * plus a `FORMAT` marker so a layout revision fails with "rebuild"
 * instead of a raw parquet path error. Works on any Hadoop filesystem
 * (rename is atomic on HDFS/local; on S3 keep the markers in a
 * manifest store).
 *
 * Reference analogue: the cache-validity discipline of
 * /root/reference/cache.go:51-66 — persisted state answers what it
 * can, is never trusted across an incompatible layout change, and is
 * swapped in atomically.
 */
/** A writer lost the commit race for an index version: another live
  * writer holds the claim for the version it tried to commit (or took
  * the claim over mid-commit). The batch was NOT committed; retry
  * after re-reading LATEST. See [[VersionedLayout.claimCommit]]. */
final class ConcurrentCommitException(msg: String)
  extends RuntimeException(msg)

private[graft] object VersionedLayout {

  def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def versionDir(dir: String, v: Int): String =
    f"${dir.stripSuffix("/")}/v$v%05d"

  def readSmall(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in),
      java.nio.charset.StandardCharsets.UTF_8).trim
    finally in.close()
  }

  /** tmp + rename so a crash mid-write never leaves a partial marker
    * visible (a 0-length FORMAT would poison every later read). */
  def atomicWrite(f: FileSystem, dst: Path, content: String): Unit = {
    val tmp = new Path(dst.getParent, s"${dst.getName}.tmp.${content.hashCode}")
    val out = f.create(tmp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    f.delete(dst, false)
    require(f.rename(tmp, dst), s"failed to commit $dst")
  }

  /** A small named marker alongside a versioned dir, if present: a
    * stream's batch↔version pairing (`graft.streaming.ReplayPin`), or
    * [[TermIndex]]'s term configuration. */
  def readMarker(spark: SparkSession, dir: String, name: String): Option[String] = {
    val f = fs(spark, dir)
    val p = new Path(dir, name)
    if (!f.exists(p)) None else Some(readSmall(f, p))
  }

  /** Write a small named marker alongside a versioned dir, atomically. */
  def writeMarker(spark: SparkSession, dir: String, name: String,
                  content: String): Unit =
    atomicWrite(fs(spark, dir), new Path(dir, name), content)

  private def latestDir(dir: String): Path =
    new Path(s"${dir.stripSuffix("/")}/latest")

  /** Pointer-file retention window: readers take the max, so anything
    * but the newest name is garbage — a trailing window is kept only
    * so a reader that listed just before a commit can still open the
    * file it picked. */
  private val LatestKeep = 8

  /** Highest committed version, or None when nothing was committed.
    *
    * Pointer files are MONOTONIC: each commit CREATES
    * `latest/vNNNNN` (the NAME is the datum — a 0-length file from a
    * crash mid-write still reads correctly), the read is max over the
    * listing, and commits prune names older than a trailing window.
    * Nothing is ever renamed over or deleted-then-recreated on the
    * read path, so there is NO window in which a live index reads as
    * absent — the structural fix for the delete+rename flip gap the
    * pre-r13 single LATEST file had (observed once as a phantom
    * missing-index error in the 500k concurrent-ingest stress race,
    * then papered over with a bounded retry). Falls back to the
    * legacy LATEST file for indexes committed before this layout;
    * once a new commit lands, `latest/` takes precedence and the
    * stale legacy pointer is harmless. */
  private[graft] def readLatestOpt(f: FileSystem, dir: String): Option[Int] = {
    val ld = latestDir(dir)
    val fromDir: Option[Int] =
      if (!f.exists(ld)) None
      else {
        val vs = f.listStatus(ld).flatMap { st =>
          val n = st.getPath.getName
          if (n.startsWith("v")) n.drop(1).toIntOption else None
        }
        if (vs.isEmpty) None else Some(vs.max)
      }
    fromDir.orElse {
      val p = new Path(dir, "LATEST")
      // legacy single-file pointer (delete+rename flip): retry its
      // sub-ms absence window instead of surfacing a phantom miss
      var attempts = 0
      var out: Option[Int] = None
      while (out.isEmpty && attempts < 10 && f.exists(p)) {
        try out = Some(readSmall(f, p).toInt)
        catch {
          case _: java.io.FileNotFoundException =>
            attempts += 1; Thread.sleep(20)
        }
      }
      out
    }
  }

  /** True if `dir` holds a committed index. */
  def exists(spark: SparkSession, dir: String): Boolean =
    readLatestOpt(fs(spark, dir), dir).isDefined

  /** Current committed version from the monotonic pointer files, after
    * validating the FORMAT marker against `format` (indexes without a
    * FORMAT marker are format 1). */
  def latestVersion(spark: SparkSession, dir: String, format: Int,
                    what: String): Int = {
    val f = fs(spark, dir)
    val v = readLatestOpt(f, dir)
    require(v.isDefined, s"no $what at $dir (no committed version)")
    val fmt = new Path(dir, "FORMAT")
    val fmtV = if (!f.exists(fmt)) 1 else readSmall(f, fmt).toInt
    require(fmtV == format,
      s"$what at $dir has layout format $fmtV; this build reads format " +
        s"$format — rebuild the index from the corpus")
    v.get
  }

  /** Commit version `v`: FORMAT written once, then the monotonic
    * pointer file created last — concurrent readers of the previous
    * version are never disturbed (their pointer file stays in the
    * retention window), a crash before the create leaves the index
    * untouched, and the create itself is one atomic metadata op (no
    * delete, no rename — see [[readLatestOpt]]). */
  def commitLatest(spark: SparkSession, dir: String, v: Int,
                   format: Int): Unit = {
    val f = fs(spark, dir)
    val fmt = new Path(dir, "FORMAT")
    if (!f.exists(fmt)) atomicWrite(f, fmt, format.toString)
    val ld = latestDir(dir)
    f.mkdirs(ld)
    val p = new Path(ld, f"v$v%05d")
    val out = f.create(p, true)
    try out.write(v.toString.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // prune pointer names that left the retention window (a reader
    // that already listed still opens only names ≥ its observed max,
    // which a newer commit never deletes)
    f.listStatus(ld).foreach { st =>
      st.getPath.getName.drop(1).toIntOption.foreach { pv =>
        if (pv <= v - LatestKeep) f.delete(st.getPath, false)
      }
    }
  }

  // ---- writer mutual exclusion (lease-based optimistic concurrency) ----
  //
  // Every index mutation writes data files at version-derived paths
  // (v00002/, s00002/, d00002) BEFORE flipping LATEST, so two writers
  // that both read LATEST=v would write into the SAME v+1 paths and
  // corrupt each other before either commits. claimCommit serializes
  // writers per version number: an exclusive-create claim file taken
  // BEFORE any data write, so the loser fails fast having written
  // nothing. The claim carries (applicationId, nonce, timestamp):
  //  - in-process concurrency is exact, not lease-based: a live claim
  //    registry keyed by (dir, version) makes a second thread of the
  //    same app fail fast instead of stomping the first (appIds are
  //    per-SparkContext, so the on-disk appId can't discriminate
  //    threads — the registry can);
  //  - a FAILED attempt releases its claim (withClaim does it on any
  //    body exception), so the documented torn-append recovery ("retry
  //    the batch; the rewrite overwrites strands") proceeds
  //    immediately — no TTL wait after an in-session crash. A same-app
  //    on-disk claim with NO live registration is exactly that
  //    release-failed strand and is reclaimed;
  //  - a different app's claim older than the lease TTL
  //    (spark conf graft.index.claim.ttlMs, default 15 min) is stolen —
  //    a dead writer never wedges the index. STEALS ARE ATOMIC AND
  //    TIME-INDEPENDENT: a claim is a GENERATION chain (base file
  //    v00007 = generation 0, steals are v00007.g00001, .g00002, …)
  //    and ownership is "holding the HIGHEST generation". A stealer
  //    never deletes or mutates the stale claim — it exclusive-creates
  //    the NEXT generation file, and the filesystem's O_EXCL arbitrates
  //    every race: of any number of stealers that observed the same
  //    stale claim (no matter how long any of them pauses between its
  //    read and its create), exactly the one whose create succeeds owns
  //    the version; every other create fails fast. No deletes, no
  //    verification sleeps, no window (the pre-round-11 protocol's
  //    compare-before-delete + 200 ms grace re-read shrank but could
  //    not close the two-stealer race);
  //  - the claim is only valid for the NEXT version: after acquiring
  //    it, claimCommit re-reads LATEST and aborts (releasing) if `v`
  //    was already committed — a writer that read LATEST before
  //    another's commit retired the claim file would otherwise
  //    re-claim v and overwrite committed data. (This also covers the
  //    stealer that paused across a full commit: its late create of a
  //    retired generation name succeeds, and this check rejects it.);
  //  - commitLatest(token) verifies the HIGHEST generation still
  //    carries THIS token before flipping LATEST, so a slow writer
  //    whose lease was stolen aborts instead of publishing over the
  //    new owner (a thief's higher generation can never be unseen —
  //    generations only grow until the commit retires them all);
  //  - DATA-PATH FENCING: a steal implies the previous owner may still
  //    be alive (a GC pause or FS stall longer than the TTL) and
  //    writing. Each stolen generation therefore writes its segment /
  //    tombstone datasets under generation-suffixed names
  //    ([[fence]] — s00007 for gen 0, s00007x1 for gen 1, …), so the
  //    files a committed manifest references are written by EXACTLY
  //    one claimant; a fenced-out loser's late writes land in paths no
  //    manifest references and are reaped by gc. Manifest files under
  //    v00007/ are still shared paths — [[fencedWrite]] makes their
  //    commit rename-based: the content write lands in a generation-
  //    suffixed temp (claimant-private, like the data paths), the
  //    lease is re-verified AFTER the write completes, and one rename
  //    publishes it — a loser paused mid-manifest-write across the
  //    winner's entire commit wakes into the re-check and aborts
  //    without touching the shared path. The residual window is the
  //    single rename metadata op after the re-check; deployments where
  //    even that matters must size the TTL above the longest possible
  //    stall, the standard lease-file assumption.
  // Exclusive create is atomic on HDFS (O_EXCL); on S3-style stores
  // front the claim with a conditional-put manifest service, same as
  // the LATEST caveat in the class doc.

  private def claimsDir(dir: String): Path =
    new Path(s"${dir.stripSuffix("/")}/claims")

  private def claimBaseName(v: Int): String = f"v$v%05d"

  private def claimPath(dir: String, v: Int): Path =
    new Path(claimsDir(dir), claimBaseName(v))

  private def claimGenPath(dir: String, v: Int, gen: Int): Path =
    if (gen == 0) claimPath(dir, v)
    else new Path(claimsDir(dir), f"${claimBaseName(v)}.g$gen%05d")

  /** Existing claim generations for version `v`, ascending. */
  private def listClaimGens(f: FileSystem, dir: String, v: Int): Seq[Int] = {
    val cd = claimsDir(dir)
    val base = claimBaseName(v)
    if (!f.exists(cd)) Seq.empty
    else f.listStatus(cd).toSeq.map(_.getPath.getName).flatMap { n =>
      if (n == base) Some(0)
      else if (n.startsWith(base + ".g"))
        n.drop(base.length + 2).toIntOption.filter(_ > 0)
      else None
    }.sorted
  }

  /** The version number encoded in a claim file name (with or without
    * a generation suffix): v00007 / v00007.g00002 → 7. */
  private def claimNameVersion(name: String): Option[Int] =
    if (!name.startsWith("v")) None
    else {
      val digits = name.drop(1).takeWhile(_.isDigit)
      if (digits.isEmpty) None else digits.toIntOption
    }

  /** Live in-process claims: "(dir)|(v)" → token. Entries exist exactly
    * while a claim in THIS JVM is between claimCommit and its
    * commit/release, which is what lets same-app on-disk claims be
    * classified as live (blocked) vs crashed (reclaimable). */
  private val liveClaims =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  /** Generation held by this JVM's live claim on (dir, v) — drives
    * [[fence]]. Maintained in lockstep with [[liveClaims]]. */
  private val liveClaimGens =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private def claimKey(dir: String, v: Int): String =
    s"${dir.stripSuffix("/")}|$v"

  /** Data-path fence suffix for the claim this JVM holds on (dir, v):
    * "" for the first claimant (generation 0 — the common case; names
    * are byte-identical to the unfenced layout), "x<gen>" for a stolen
    * generation. Index families append it to the NEW segment/tombstone
    * names they write under this claim, so a fenced-out previous owner
    * (alive past the TTL, still writing) and the stealer can never
    * write the same data path — the files a committed manifest
    * references are written by exactly one claimant. Sequence parsing
    * ([[nameSeq]]-style digits-prefix) is unaffected: s00007x1 still
    * carries sequence 7. */
  def fence(dir: String, v: Int): String = {
    val g = liveClaimGens.get(claimKey(dir, v))
    if (g == null || g.intValue == 0) "" else s"x${g.intValue}"
  }

  /** Rename-based fenced write for manifest files, at a
    * GENERATION-STAMPED destination. The FULL content write goes to a
    * claimant-private temp; the lease is re-verified AFTER that write
    * completes; one rename then publishes it at THIS GENERATION'S
    * name — the plain `dst` for generation 0 (the uncontended common
    * case, byte-identical to the historical layout), `dst.gNNNNN` for
    * a stolen generation. Readers resolve the HIGHEST generation
    * present ([[fencedReadOpt]]).
    *
    * Cross-generation writers therefore never share a destination
    * path AT ALL: a gen-k loser that wakes after the gen-k+1 stealer
    * committed, passes its own (staled a metadata-op later) re-check
    * and renames, lands stale content only in its OWN generation's
    * name — which the max-generation read rule never picks. This
    * closes the pre-r13 residual window (the single rename after the
    * re-check could still clobber the winner's committed manifest on
    * the shared path). The only same-path delete+rename left is the
    * SAME claimant overwriting its own failed attempt's strand, which
    * the claim registry serializes. */
  def fencedWrite(spark: SparkSession, dir: String, v: Int, what: String,
                  dst: Path, content: String): Unit = {
    val key = claimKey(dir, v)
    require(liveClaims.get(key) != null,
      s"$what at $dir: manifest write for version $v outside a live claim")
    val g = liveClaimGens.get(key)
    val gen = if (g == null) 0 else g.intValue
    val f = fs(spark, dir)
    val tmp = new Path(dst.getParent, f"${dst.getName}.wip.g$gen%05d")
    val out = f.create(tmp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // final lease check AFTER the slow write, immediately before the
    // publish — a steal during the write is detected here
    try fenceCheck(spark, dir, v, what)
    catch { case e: Throwable => f.delete(tmp, false); throw e }
    val dstGen =
      if (gen == 0) dst
      else new Path(dst.getParent, f"${dst.getName}.g$gen%05d")
    f.delete(dstGen, false)
    require(f.rename(tmp, dstGen), s"failed to commit $dstGen")
  }

  /** Resolve + read the highest-generation variant of a fenced
    * manifest file (`name` = gen 0, `name.gNNNNN` = stolen
    * generations) — None when no generation exists. The `.wip.g*`
    * temps never match (different suffix shape). */
  def fencedReadOpt(f: FileSystem, dst: Path): Option[String] = {
    val base = dst.getName
    val parent = dst.getParent
    if (!f.exists(parent)) return None
    def genOf(n: String): Option[Int] =
      if (n == base) Some(0)
      else if (n.startsWith(base + ".g") && n.length > base.length + 2) {
        val d = n.drop(base.length + 2)
        if (d.forall(_.isDigit)) d.toIntOption else None
      } else None
    val cands = f.listStatus(parent)
      .flatMap(st => genOf(st.getPath.getName).map(_ -> st.getPath))
    if (cands.isEmpty) None
    else Some(readSmall(f, cands.maxBy(_._1)._2))
  }

  /** [[fencedReadOpt]] that requires the file to exist. */
  def fencedRead(f: FileSystem, dst: Path): String =
    fencedReadOpt(f, dst).getOrElse(
      throw new java.io.FileNotFoundException(dst.toString))

  /** Re-verify, immediately before a shared-path manifest write, that
    * the claim for (dir, v) is still held by THIS JVM's token (the
    * on-disk highest generation matches). Throws
    * [[ConcurrentCommitException]] if the lease was stolen — the
    * fenced-out writer aborts before clobbering the new owner's
    * manifest files. Prefer [[fencedWrite]] (which re-checks AFTER the
    * content write, closing the paused-mid-write clobber) for manifest
    * files; this remains the pre-write guard for bulk table writes
    * whose output paths cannot be renamed into place. */
  def fenceCheck(spark: SparkSession, dir: String, v: Int,
                 what: String): Unit = {
    val tok = liveClaims.get(claimKey(dir, v))
    require(tok != null,
      s"$what at $dir: manifest write for version $v outside a live claim")
    val f = fs(spark, dir)
    val held = listClaimGens(f, dir, v).lastOption.map { g =>
      try readSmall(f, claimGenPath(dir, v, g))
      catch { case _: java.io.IOException => "" }
    }
    if (!held.contains(tok))
      throw new ConcurrentCommitException(
        s"$what at $dir: lease for version $v was " +
          s"${if (held.isEmpty) "released" else "stolen"} before the " +
          "manifest write — aborting (fenced out)")
  }

  def claimTtlMs(spark: SparkSession): Long =
    spark.conf.get("graft.index.claim.ttlMs",
      (15L * 60 * 1000).toString).toLong

  /** Claim the right to commit version `v` of the index at `dir`.
    * Returns an ownership token to pass to `commitLatest` (or
    * `releaseClaim` on failure — prefer [[withClaim]], which does
    * both). Throws [[ConcurrentCommitException]] (before ANY data
    * write — call this first) if another live writer holds the claim
    * or `v` is already committed. */
  def claimCommit(spark: SparkSession, dir: String, v: Int,
                  what: String): String = {
    val appId = spark.sparkContext.applicationId
    val token =
      s"$appId#${java.util.UUID.randomUUID()}#${System.currentTimeMillis()}"
    val key = claimKey(dir, v)
    // in-process lock FIRST: one live claimant per (dir, v) per JVM,
    // decided atomically — on-disk appIds can't discriminate threads,
    // and any disk-first ordering leaves a window where a live
    // same-app claim reads as a dead strand (observed: two threads in
    // one JVM writing the same segment). The entry is removed on every
    // failure path below, at commit, and at releaseClaim.
    if (liveClaims.putIfAbsent(key, token) != null)
      throw new ConcurrentCommitException(
        s"$what at $dir: version $v is being committed by another " +
          "writer thread of this application — retry after it finishes")
    try {
      val f = fs(spark, dir)
      f.mkdirs(claimsDir(dir))
      def tryCreate(p: Path): Boolean =
        try {
          val out = f.create(p, false)
          try out.write(token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
          true
        } catch { case _: java.io.IOException => false }
      // the common, uncontended case: no claim exists — take gen 0
      var gen = -1
      if (listClaimGens(f, dir, v).isEmpty && tryCreate(claimPath(dir, v)))
        gen = 0
      if (gen < 0) {
        // contention: the HIGHEST existing generation is the owner of
        // record (re-list — the failed create above may have raced a
        // fresh claimant)
        val hi = listClaimGens(f, dir, v).lastOption.getOrElse(0)
        val hp = claimGenPath(dir, v, hi)
        // a FOREIGN owner's token lands a moment after its exclusive
        // create — a claim read in that window looks empty/partial.
        // Short-token reads are therefore INDETERMINATE (probably a
        // live writer mid-create), never immediately-stealable
        // strands: grace-retry the read before any steal decision.
        // (This wait is a liveness nicety for an indeterminate READ —
        // the steal itself is arbitrated by exclusive create below and
        // carries no timing assumption.)
        def readClaim(): String =
          try readSmall(f, hp) catch { case _: java.io.IOException => "" }
        var existing = readClaim()
        var grace = 0
        while (existing.split("#", -1).length < 3 && grace < 20 &&
               f.exists(hp)) {
          Thread.sleep(50); grace += 1; existing = readClaim()
        }
        val parts = existing.split("#", -1)
        val theirApp = if (parts.nonEmpty) parts(0) else ""
        val theirTs =
          if (parts.length >= 3) scala.util.Try(parts(2).toLong).getOrElse(0L)
          else 0L
        val age = System.currentTimeMillis() - theirTs
        val ttl = claimTtlMs(spark)
        // same-app disk claim while WE hold the in-process lock = a
        // strand of a dead attempt (every live claimant holds the
        // lock) — reclaim immediately; foreign claims wait out the TTL
        if (theirApp == appId || age > ttl) {
          // STEAL = exclusive-create of the NEXT generation. Atomic
          // and time-independent: any number of stealers that observed
          // the same stale generation race to create the same name,
          // O_EXCL picks exactly one, and a stealer that paused
          // arbitrarily long between its read and its create either
          // wins that create or fails fast — it can never evict a
          // fresh owner (nothing is ever deleted or overwritten here;
          // a generation name only becomes creatable again after a
          // commit retires the whole chain, and the LATEST re-check
          // below rejects exactly that late-winner case).
          if (!tryCreate(claimGenPath(dir, v, hi + 1)))
            throw new ConcurrentCommitException(
              s"$what at $dir: lost the re-claim race for version $v")
          gen = hi + 1
        } else
          throw new ConcurrentCommitException(
            s"$what at $dir: version $v is claimed by writer $theirApp " +
              s"(age ${age}ms < ttl ${ttl}ms) — retry after it commits or " +
              "its lease expires")
      }
      // stale-read guard: holding the claim for v proves nothing if v
      // is already committed (its original claim was retired by the
      // commit, freeing the name for re-creation). The committed
      // version cannot advance to v after this check while we hold
      // the claim — committing v requires it, and committing any
      // w > v requires the pointer ≥ v first.
      if (readLatestOpt(f, dir).exists(_ >= v)) {
        f.delete(claimGenPath(dir, v, gen), false)
        throw new ConcurrentCommitException(
          s"$what at $dir: version $v was already committed by another " +
            "writer — re-read LATEST and retry against the current state")
      }
      liveClaimGens.put(key, Int.box(gen))
      token
    } catch {
      case e: Throwable =>
        liveClaims.remove(key, token); liveClaimGens.remove(key); throw e
    }
  }

  /** Release a claim after a FAILED commit attempt (any data strands
    * are overwritten by the retry — the documented torn-append
    * recovery), so the retry proceeds immediately instead of waiting
    * out the lease. No-op if the claim has already moved on. */
  def releaseClaim(spark: SparkSession, dir: String, v: Int,
                   token: String): Unit = {
    liveClaims.remove(claimKey(dir, v), token)
    liveClaimGens.remove(claimKey(dir, v))
    val f = fs(spark, dir)
    // delete the generation file THIS token created (content-matched —
    // never another claimant's); lower stale generations stay until a
    // commit retires the chain, which is harmless: the next claimant
    // sees them as the highest generation and steals past them
    listClaimGens(f, dir, v).foreach { g =>
      val p = claimGenPath(dir, v, g)
      val held =
        try Some(readSmall(f, p)) catch { case _: java.io.IOException => None }
      if (held.contains(token)) f.delete(p, false)
    }
  }

  /** Ownership-verified commit: flips LATEST only if the HIGHEST claim
    * generation for `v` still holds `token` (a thief's higher
    * generation can never be unseen — generations only grow until the
    * commit retires them), then retires every claim at or below `v`. */
  def commitLatest(spark: SparkSession, dir: String, v: Int,
                   format: Int, token: String): Unit = {
    val f = fs(spark, dir)
    val held = listClaimGens(f, dir, v).lastOption.map { g =>
      try readSmall(f, claimGenPath(dir, v, g))
      catch { case _: java.io.IOException => "" }
    }
    if (!held.contains(token)) {
      liveClaims.remove(claimKey(dir, v), token)
      liveClaimGens.remove(claimKey(dir, v))
      throw new ConcurrentCommitException(
        s"claim for version $v of $dir was " +
          s"${if (held.isEmpty) "released" else "taken over by another writer"} " +
          "before the flip — aborting this commit")
    }
    // A flip failure (transient filesystem error in atomicWrite) must
    // not strand the claim: without the release, the in-process
    // registry entry and the on-disk claim for (dir, v) leak, and
    // every later mutation of this index from this JVM fails with
    // "being committed by another writer thread" forever.
    try commitLatest(spark, dir, v, format)
    catch {
      case e: Throwable => releaseClaim(spark, dir, v, token); throw e
    }
    liveClaims.remove(claimKey(dir, v), token)
    liveClaimGens.remove(claimKey(dir, v))
    val cd = claimsDir(dir)
    if (f.exists(cd))
      f.listStatus(cd).foreach { st =>
        if (claimNameVersion(st.getPath.getName).exists(_ <= v))
          f.delete(st.getPath, false)
      }
  }

  /** Size-tiered merge subset for r-with-r compaction, shared by the
    * index families: always the two smallest r-segments, extended
    * upward (ascending size) while the next segment is at most 2× the
    * cumulative mass already selected. A corpus-sized base segment
    * therefore joins a merge only once the newer tiers have
    * accumulated ≥ half its mass — each row is rewritten O(log n)
    * times total, and a constant-size churn stream NEVER amortizes a
    * corpus rewrite per fold cycle (the pre-round-10 "merge all r's at
    * the cap" policy cost O(corpus / maxSegments²) per commit, linear
    * in corpus for constant-size commits). The trigger caller
    * guarantees ≥ 2 candidates, so every trigger shrinks the r-count
    * by at least one. */
  private[graft] def tierMergeSet(sizes: Seq[(String, Long)]): Set[String] = {
    val asc = sizes.sortBy(s => (s._2, s._1))
    if (asc.length < 2) asc.map(_._1).toSet
    else {
      var cum = asc(0)._2 + asc(1)._2
      val sel = scala.collection.mutable.ListBuffer(asc(0)._1, asc(1)._1)
      var i = 2
      while (i < asc.length && asc(i)._2 <= 2 * cum) {
        sel += asc(i)._1; cum += asc(i)._2; i += 1
      }
      sel.toSet
    }
  }

  /** The full claim→write→commit envelope every index mutation runs:
    * claims `v`, runs `body` (the data writes), commits on success,
    * RELEASES the claim on any body failure so an in-session retry is
    * immediate. Returns `body`'s value (materialize anything that must
    * be computed against the pre-commit state inside `body`). */
  def withClaim[T](spark: SparkSession, dir: String, v: Int, format: Int,
                   what: String)(body: => T): T = {
    val tok = claimCommit(spark, dir, v, what)
    val out =
      try body
      catch {
        case e: Throwable => releaseClaim(spark, dir, v, tok); throw e
      }
    commitLatest(spark, dir, v, format, tok)
    out
  }
}
