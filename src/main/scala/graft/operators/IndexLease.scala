package graft.operators

/** Makes the persisted-index SINGLE-WRITER contract enforceable instead of
  * documentary. Every lifecycle scaladoc (the drift ledger, `replaceDir`'s
  * swap, the tombstone rewrite) assumes one writer at a time per index
  * dir; until now nothing STOPPED two daemons — or a daemon plus a CLI
  * `ann-rebuild` — from racing rename-aside swaps on one dir, where
  * interleaved swaps can delete each other's `.old` rollback state, and a
  * takedown landing inside a tombstone rewrite's read-modify-write window
  * is silently discarded.
  *
  * The mechanism is one marker FILE beside the index dir
  * (`<dir>._lease` — a sibling, NOT inside the dir, so whole-dir swaps
  * never destroy an active lease), acquired create-exclusive
  * ([[IndexFs.createUtf8]] — atomic on HDFS and local FS) and holding the
  * writer's identity. Acquisition:
  *
  *  - free → create the marker, run, delete it (always, in `finally`);
  *  - held by THIS thread (a nested lifecycle call — `maintain` runs the
  *    rebuild arc, the pipeline compacts from inside its own batch) →
  *    reentrant, depth-counted, released by the outermost frame;
  *  - held by anyone else → LOUD error naming the holder (the contract's
  *    whole point: contention surfaces as a failure to the writer that
  *    lost, never as interleaved corruption);
  *  - held but STALE (the store's modification time — one clock authority,
  *    no cross-writer skew — older than `staleMs`) → the lease is a
  *    crashed writer's leftover: take it over (delete + re-acquire,
  *    logged). The crashed writer's half-done swap is then healed by the
  *    operator's own `recoverDir` entry point, exactly as before — the
  *    lease guards CONCURRENCY, recovery still guards CRASHES.
  *
  * Stale age defaults to 30 minutes, overridable per deployment via
  * `GRAFT_LEASE_STALE_MS` (or the `graft.lease.stale.ms` system property,
  * which wins — the spec hook). Held leases are RENEWED automatically: a
  * shared daemon heartbeat re-touches every held marker each `staleMs/3`,
  * so an arbitrarily long rebuild never goes stale mid-run and gets its
  * index taken over by a second writer — the stale rule only ever fires
  * on a writer that actually STOPPED heartbeating (crashed or hung past
  * the window), which is exactly what it is for. On object stores without
  * atomic create-exclusive the acquire degrades to check-then-write —
  * same race window every S3-backed lock has; HDFS and local FS (and S3
  * with a consistency layer) get the atomic semantics.
  *
  * Scale shape: one tiny file create + delete per lifecycle operation —
  * nothing on the data path, nothing per row.
  */
object IndexLease {

  /** dir -> (owning thread id, reentrancy depth) for leases held by THIS
    * JVM. Thread-confined on purpose: two threads of one process racing a
    * lifecycle op are exactly as unsafe as two processes, so the second
    * thread contends like any foreign writer.
    */
  private val held =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Int)]()

  /** Per-dir monitor serializing SAME-JVM acquisition/release: Hadoop's
    * local-FS `create(overwrite = false)` is check-then-act (only HDFS
    * gets namenode-atomic create-exclusive), so without this two threads
    * of one process could both win the marker race. In-JVM arbitration is
    * exact; cross-PROCESS atomicity remains the filesystem's contract
    * (atomic on HDFS, a tiny window on raw local/object stores — the
    * single-writer deployments the lease targets run one daemon per
    * index, where the window never opens).
    */
  private val monitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def monitorFor(key: String): Object =
    monitors.computeIfAbsent(key, _ => new Object)

  /** One shared daemon thread heartbeats ALL held leases — renewal must
    * not depend on the (possibly Spark-blocked) holder thread making
    * progress, and one timer for the whole JVM costs nothing.
    */
  private lazy val renewer = {
    val t = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => {
        val th = new Thread(r, "graft-index-lease-renewal")
        th.setDaemon(true)
        th
      })
    t
  }
  private val renewals = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.ScheduledFuture[_]]()

  /** The exact marker content this JVM wrote per held dir — release
    * compares before deleting (see the release note in [[withLease]]).
    */
  private val owned =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Parsed-and-validated stale age, re-parsed only when the raw setting
    * string changes (the spec hook flips the system property mid-JVM; a
    * parse-once cache would pin the first value). A malformed or
    * non-positive value fails ONCE, loudly, naming the setting — not as an
    * opaque NumberFormatException deep inside a lifecycle op's heartbeat.
    */
  @volatile private var staleCache: (Option[String], Long) = (None, -1L)
  private def staleMs: Long = {
    val raw = sys.props.get("graft.lease.stale.ms")
      .orElse(sys.env.get("GRAFT_LEASE_STALE_MS"))
    val cached = staleCache
    if (cached._1 == raw && cached._2 > 0) cached._2
    else {
      val v = raw match {
        case None => 30L * 60L * 1000L
        case Some(s) =>
          val n = s.trim.toLongOption.getOrElse(throw new IllegalArgumentException(
            s"graft.lease.stale.ms / GRAFT_LEASE_STALE_MS must be a positive " +
              s"millisecond count, got '$s'"))
          require(n > 0, s"graft.lease.stale.ms / GRAFT_LEASE_STALE_MS must " +
            s"be positive, got $n")
          n
      }
      staleCache = (raw, v)
      v
    }
  }

  private val tokenSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** A PER-ACQUISITION unique token, not just a writer identity: the
    * post-acquire verify compares the marker's stored content against the
    * exact token this acquisition wrote, so two acquisitions by the same
    * thread at different times can never be confused for each other.
    */
  private def holderId: String = {
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean.getName
    s"$jvm/thread-${Thread.currentThread().getId}/acq-${tokenSeq.incrementAndGet()}"
  }

  /** Test hook: runs between the marker create and the post-acquire verify
    * read — the check-then-write window object stores leave open. A spec
    * injects a competing writer's overwrite here to prove exactly one
    * writer proceeds.
    */
  private[graft] var postCreateHook: String => Unit = _ => ()

  /** The marker's path for an index dir — a SIBLING file (swap-proof). */
  def leasePath(dir: String): String = s"${dir.stripSuffix("/")}._lease"

  /** Run `op` holding `dir`'s writer lease (see object doc for the
    * acquire/contend/stale rules). Reentrant for nested lifecycle calls on
    * the same thread; always released by the outermost frame, error or
    * not.
    */
  def withLease[T](dir: String)(op: => T): T = {
    staleMs // validate the deployment setting BEFORE any marker exists —
    // a malformed value must fail here, not after the acquire created a
    // marker that the aborted frame would then never release
    val key = dir.stripSuffix("/")
    val me = Thread.currentThread().getId
    val cur = held.get(key)
    if (cur != null && cur._1 == me) { // nested frame on the owning thread
      held.put(key, (me, cur._2 + 1))
      try op
      finally {
        val d = held.get(key)
        if (d != null && d._2 > 1) held.put(key, (me, d._2 - 1))
      }
    } else {
      val mon = monitorFor(key)
      mon.synchronized {
        // exact in-JVM arbitration first (see monitors doc), then the
        // marker race against other processes
        val inJvm = held.get(key)
        if (inJvm != null)
          throw new IllegalStateException(
            s"index lease ${leasePath(key)} is held by thread " +
              s"${inJvm._1} of this process: another lifecycle writer " +
              s"is active on $key — stop it or wait")
        owned.put(key, acquire(key))
        held.put(key, (me, 1))
        // heartbeat: renew the marker each staleMs/3 so a long-running
        // rebuild never goes stale mid-run. Renewal REWRITES the marker
        // with the same token rather than setTimes-touching it: object
        // stores (S3A) silently no-op setTimes, which would let any op
        // longer than staleMs get taken over while still running — a
        // rewrite advances the store mtime on every filesystem. The
        // rewrite is owner-checked (read first, rewrite only our own
        // token) so a mis-fired takeover's NEW holder is never
        // overwritten; while we hold a fresh lease no other writer
        // touches the marker, so the read-then-write pair does not race.
        // Failures are LOGGED, never swallowed silently — a renewal that
        // stops working is exactly the takeover precondition.
        val period = math.max(1L, staleMs / 3)
        renewals.put(key, renewer.scheduleWithFixedDelay(() => {
          val marker = leasePath(key)
          val log = org.slf4j.LoggerFactory.getLogger(getClass)
          try mon.synchronized { // no release between read and rewrite
            val mine = owned.get(key)
            if (mine == null) () // released between schedule and fire
            else {
              val stored =
                try Some(IndexFs.readUtf8(marker))
                catch { case _: java.io.IOException => None }
              stored match {
                case Some(tok) if tok == mine => IndexFs.writeUtf8(marker, mine)
                case Some(other) => log.warn(
                  s"index lease $marker was taken over while held " +
                    s"(now $other) — not renewing; the data-side swaps " +
                    "remain crash-safe")
                case None => log.warn(
                  s"index lease $marker vanished while held — taken over " +
                    "or manually removed")
              }
            }
          } catch {
            case e: java.io.IOException =>
              log.warn(s"index lease $marker renewal failed: $e")
            case e: Throwable =>
              log.warn(s"index lease $marker renewal failed unexpectedly", e)
          }
        }, period, period, java.util.concurrent.TimeUnit.MILLISECONDS))
      }
      try op
      finally mon.synchronized {
        Option(renewals.remove(key)).foreach(_.cancel(false))
        held.remove(key)
        // release ONLY our own marker: if a mis-fired stale takeover (a
        // writer hung past the whole window, then woke) handed the lease
        // to another writer while we ran, deleting unconditionally would
        // destroy THEIR live lease and cascade the contract break — the
        // woken writer's release must be a no-op, not a theft
        val marker = leasePath(key)
        val mine = owned.remove(key)
        try {
          if (IndexFs.exists(marker) && IndexFs.readUtf8(marker) == mine)
            IndexFs.deleteFile(marker)
        } catch {
          case _: java.io.IOException => /* marker raced away — released */
        }
      }
    }
  }

  /** @return the exact marker content written (the owner token release
    *         compares against)
    */
  private def acquire(dir: String): String = {
    val marker = leasePath(dir)
    val me = holderId
    var attempt = 0
    while (!IndexFs.createUtf8(marker, me)) {
      attempt += 1
      val (holder, ageMs) =
        try {
          val h = IndexFs.readUtf8(marker)
          val t = IndexFs.modificationTime(marker)
          (h, System.currentTimeMillis() - t)
        } catch {
          // the holder released between our create and this read — retry
          case _: java.io.IOException => ("<released>", Long.MaxValue)
        }
      if (ageMs <= staleMs)
        throw new IllegalStateException(
          s"index lease $marker is held by $holder (age ${ageMs / 1000}s): " +
            s"another lifecycle writer is active on $dir — stop it or wait; " +
            s"a crashed writer's lease is taken over after ${staleMs} ms " +
            "(GRAFT_LEASE_STALE_MS)")
      // stale: a crashed writer's leftover — take it over, loudly
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"taking over stale index lease $marker (holder $holder, " +
          s"age ${ageMs / 1000}s > ${staleMs / 1000}s)")
      IndexFs.deleteFile(marker)
      require(attempt < 8,
        s"could not acquire index lease $marker after $attempt takeover " +
          "attempts — a live writer keeps re-creating it")
    }
    // post-acquire verify: on stores without atomic create-exclusive the
    // create (and the takeover delete + re-create) is check-then-write, so
    // two writers can BOTH believe they created the marker. Re-reading and
    // comparing the stored content against this acquisition's unique token
    // closes that window to one store read: whichever writer's content
    // survived owns the lease, the other treats it as contention — a loud
    // error, never interleaved corruption.
    postCreateHook(marker)
    val stored =
      try IndexFs.readUtf8(marker)
      catch {
        case e: java.io.IOException => throw new IllegalStateException(
          s"index lease $marker vanished during the post-acquire verify — " +
            s"another lifecycle writer is racing $dir", e)
      }
    if (stored != me)
      throw new IllegalStateException(
        s"index lease $marker post-acquire verify failed: held by $stored " +
          s"(this writer: $me) — another lifecycle writer won the marker " +
          s"race on $dir; stop it or wait")
    me
  }
}
