package graft

import org.apache.spark.sql.DataFrame

/** Lineage-truncation policy for the iterative tier (BFS, bounded
  * SSSP, k-core, connected components — both propagation and
  * large-star/small-star — PageRank, label propagation), r19
  * (VERDICT r18 task 4).
  *
  * Every Pregel-style loop here must bound its plan: without
  * truncation the logical plan grows one join+agg layer per round and
  * analysis/codegen time diverges. The DEFAULT bound is
  * `localCheckpoint()` each round — fastest (executor-held shuffle
  * blocks, no external write), but those blocks are UNRELIABLE: an
  * executor lost mid-run invalidates them, and because a local
  * checkpoint also severs lineage there is nothing to recompute from —
  * the job fails. Cosmetic at local[32]; real on a 1000-executor
  * cluster where a multi-hour iterative job should expect losses.
  *
  * Setting `graft.iter.checkpointDir` (session conf) upgrades the
  * policy to cluster-grade: a RELIABLE `checkpoint()` to that
  * directory at EVERY round — so the loop's state survives any
  * executor loss (recovery reads the checkpoint files; nothing is
  * recomputed), and no round holds its state only in executor-local
  * blocks. Unset, a lost block fails the job loudly (GraphsSpec pins
  * both outcomes); it never yields partial data.
  *
  * Why every round must still TRUNCATE (not persist): the loops
  * compose their frames — BFS unions `dist` with each round's
  * frontier, CC-star diffs `next` against `e` — so without lineage
  * truncation round r's plan embeds the full TREE of rounds 1..r−1
  * at every reference, and analysis cost goes exponential in the
  * round count (measured: an 11-round BFS under a persist-between
  * variant OOM'd the analyzer in DeduplicateRelations before any
  * task ran). Truncation every round is what keeps analysis O(1)
  * per round; the only policy choice is WHICH truncation.
  */
object IterCkpt {

  /** Session-conf key naming the reliable checkpoint directory. Unset
    * (the default) → localCheckpoint every round.
    *
    * ONE VALUE PER SparkContext (r20, ADVICE r19):
    * `SparkContext.checkpointDir` is process-global, so the reliable
    * policy cannot give two concurrent sessions of one JVM different
    * durable directories — [[truncate]] serializes reliable
    * checkpoints and re-pins the context dir under the lock, which
    * keeps every write in the directory its session asked for, at the
    * cost of switching the global dir back and forth when sessions
    * disagree. Deployments should set ONE value per SparkContext;
    * the reliable tier is for long iterative jobs whose checkpoint
    * writes dwarf the lock hold anyway. */
  val ConfKey = "graft.iter.checkpointDir"

  // the conf value this object last pushed into
  // SparkContext.setCheckpointDir — setCheckpointDir mints a fresh
  // random subdirectory per call, so it must run once per conf VALUE,
  // not once per round
  private var pushedDir: Option[String] = None

  /** Bound `df`'s lineage under the session's policy: a reliable
    * checkpoint into [[ConfKey]]'s directory when it is set, a local
    * checkpoint otherwise. */
  def truncate(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption(ConfKey).filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = spark.sparkContext
        // the CONF is the operator's explicit durability intent for
        // these loops, so it takes precedence over whatever context-
        // level dir happens to be set (review r19: deferring to a
        // pre-existing sc dir silently sent "reliable" checkpoints
        // to an unrelated — possibly local, non-durable — location)
        // persist around the reliable write (review r19): RDD
        // checkpointing recomputes the lineage when the files are
        // written after the materializing action — Spark's
        // documented caveat — so an unpersisted frame pays every
        // round's join+agg TWICE; the cache makes the second pass a
        // read. Superseded round files are reclaimed on GC when
        // spark.cleaner.referenceTracking.cleanCheckpoints=true —
        // set it on long-running clusters or the checkpoint dir
        // grows one frame copy per round.
        val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // the lock spans the CHECKPOINT itself, not just the dir
        // push (r20, ADVICE r19): SparkContext.checkpointDir is
        // process-global, so a push-then-checkpoint-outside-the-lock
        // window let a second session with a DIFFERENT conf value
        // interleave and send this session's "reliable" write under
        // the other session's directory. Serializing the write is
        // the correctness choice; see [[ConfKey]] for the
        // one-value-per-SparkContext deployment rule. Inside the
        // lock the context dir is RE-VERIFIED against the session's
        // intent each time — an operator-set (or other-session-set)
        // context dir is re-pinned, never silently trusted.
        val out = synchronized {
          val current = sc.getCheckpointDir
          // re-push when the global dir is not one this conf value
          // minted (setCheckpointDir creates a random subdir of
          // `dir`, so prefix-match, not equality). The stored value
          // is the FS-QUALIFIED subdir path ("file:/…/<uuid>"), so
          // the conf dir must be qualified the same way before
          // comparing — a bare-path compare re-pushed (new UUID
          // subdir) every round, and a qualified-prefix conf value
          // could silently match a SIBLING dir ("…/ck" vs "…/ck-old")
          // without the separator terminator (review r20).
          val qualifiedPrefix = {
            val p = new org.apache.hadoop.fs.Path(dir)
            val q = p.getFileSystem(sc.hadoopConfiguration).makeQualified(p).toString
            if (q.endsWith("/")) q else q + "/"
          }
          if (!pushedDir.contains(dir) ||
              !current.exists(_.startsWith(qualifiedPrefix))) {
            sc.setCheckpointDir(dir)
            pushedDir = Some(dir)
          }
          cached.checkpoint()
        }
        cached.unpersist()
        out
      case None => df.localCheckpoint()
    }
  }
}
