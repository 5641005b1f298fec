package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Materialize
import graft.llm.{Curation, Dedup, Similarity}

/** The serving-index maintenance lifecycle's STREAMING orchestration —
  * the two operational rules the r16 pins established, as callable code
  * instead of scaladoc prose (PLANS.md r17 note 2):
  *
  *  1. Compaction under a live gate NEEDS A BOUNCE (StreamingSpec's
  *     needs-gate-bounce pin: a stream-static join refreshes its file
  *     LISTING per micro-batch but holds the RELATION's location
  *     resolved at query start, so a clean between-trigger swap still
  *     fails the next micro-batch with FAILED_READ_FILE). The bounce is
  *     [[compactUnderGate]]: quiesce → swap → restart, in that order,
  *     so no trigger can land inside the drop→rename window at all.
  *
  *  2. Every gate start must be RECOVERABLE-BY-CONSTRUCTION: every
  *     index family (hash, band, gram, SRP, group-label, and the
  *     k-means, PQ and pinned IVF `assigned` tables) is a bucketed
  *     catalog table replaced through one non-atomic swap
  *     (`Dedup.swapTable`: compaction and both refits). A crash
  *     anywhere inside it, with or without catalog loss, leaves a
  *     state the one boot ([[bootGate]]) completes BEFORE resolving the
  *     gate's plan, so a gate can never start against a half-swapped
  *     index — the restart path IS the recovery path.
  *
  * At scale these run on the ingest orchestrator (one driver owns the
  * gate and its indexes); nothing here touches executors beyond the
  * compaction job itself. The third member, [[refreshIngestGate]], is
  * the admission loop itself — per-batch probe + admit over the same
  * standing indexes the other two maintain.
  */
object GateOps {

  /** Compact a bucketed serving table that a RUNNING stream-static gate
    * reads, without ever exposing the gate to the swap: stop the query
    * (Spark's `StreamingQuery.stop()` blocks until the execution thread
    * terminates, so no micro-batch is in flight afterwards), run the
    * drop→rename swap, then restart via `restart` — which must rebuild
    * the gate from `spark.table(...)` so the fresh plan resolves the
    * renamed table's NEW location. Returns the restarted query.
    *
    * A crash after the stop but inside the swap is recovered at the
    * next boot by [[bootGate]] — the pair is the lifecycle's
    * crash-consistency story: this function makes the happy path
    * trigger-free, the boot makes the unhappy path self-healing. */
  def compactUnderGate(
      spark: SparkSession, table: String, newPath: String,
      gate: StreamingQuery, restart: () => StreamingQuery): StreamingQuery = {
    gate.stop()
    Dedup.compactIndex(spark, table, newPath)
    restart()
  }

  /** Start (or restart) a gate, healing every serving table it reads
    * FIRST — the one boot for every index family. Each table is booted
    * the same way:
    *  - when the catalog knows neither the table nor its `_compacting`
    *    sibling (a fresh catalog, or a crash inside a swap plus
    *    catalog loss), the newest COMMITTED candidate location is
    *    resolved by the sidecar commit-epoch protocol
    *    ([[Dedup.resolveCommittedCandidate]]: mid-swap and superseded
    *    candidates are deleted, except a mid-swap one whose writer
    *    lease is still fresh — possibly a live refit on another driver,
    *    reclaimed by a later boot once the lease ages past
    *    `graft.index.sweepLeaseTtlMs`) and re-attached from its bucket-
    *    spec sidecar ([[Dedup.reattachBucketedTable]]; the action reads
    *    "attached+…");
    *  - then [[Dedup.recoverCompact]] completes whatever half-swap a
    *    previous process died inside ("renamed" / "swapped" /
    *    "committed") or no-ops on a clean catalog ("noop").
    * Only then does `start` resolve the gate's plan, so a gate can
    * never start against a half-swapped or unattached index — the
    * restart path IS the recovery path.
    *
    * `tables` maps each bucketed serving table to every location its
    * data may live at (the last build or compaction target plus any
    * in-flight one). `roots` are index roots (k-means IVF, PQ or pinned
    * IVF): a root's `assigned` table is
    * [[graft.llm.Similarity.ivfPinnedTable]]`(root)`, its candidates
    * are the caller's paths for that table plus the root's own
    * `assigned`/`assigned_*` dirs, and its action is reported under
    * the root. Where a root holds `seeds` (the pinned family), a refit
    * crash can leave that cache stale relative to the recovered table:
    * [[graft.llm.Similarity.recoverRefitSeeds]] heals it ("+seeds").
    *
    * Tables the catalog still knows skip filesystem arbitration
    * entirely: their swap states are catalog states that
    * [[Dedup.recoverCompact]] completes, and deleting a directory the
    * catalog references would break that recovery. A table with no
    * sidecar-bearing candidate fails loudly — nothing provably safe
    * exists to serve, and the caller re-runs the build, not the boot. */
  def bootGate(
      spark: SparkSession, tables: Map[String, Seq[String]], roots: Seq[String] = Nil)(
      start: () => StreamingQuery): (Map[String, String], StreamingQuery) = {
    val rootTables = roots.map(r => r -> Similarity.ivfPinnedTable(r))
    val tableActions = (tables -- rootTables.map(_._2)).map { case (t, paths) =>
      t -> bootTable(spark, t, paths)
    }
    val rootActions = rootTables.map { case (root, t) =>
      val action = bootTable(
        spark, t, tables.getOrElse(t, Nil) ++ Similarity.assignedCandidates(spark, root))
      val seeds = new org.apache.hadoop.fs.Path(root, "seeds")
      val healed = seeds.getFileSystem(spark.sessionState.newHadoopConf()).exists(seeds) &&
        Similarity.recoverRefitSeeds(spark, root)
      root -> (if (healed) s"$action+seeds" else action)
    }
    (tableActions ++ rootActions, start())
  }

  /** One table's boot step of [[bootGate]]: re-attach from the newest
    * committed candidate when the catalog has lost the table, then
    * complete any half-swap. */
  private def bootTable(spark: SparkSession, t: String, candidates: Seq[String]): String = {
    val known = spark.catalog.tableExists(t) || spark.catalog.tableExists(s"${t}_compacting")
    val attached = !known && {
      val dir = Dedup.resolveCommittedCandidate(spark, candidates).getOrElse(
        throw new IllegalStateException(
          s"no sidecar-bearing candidate for $t among ${candidates.mkString(", ")} — " +
            "nothing to re-attach (re-run the build, or backfillSpecSidecar on " +
            "a catalog that still knows the table)"))
      Dedup.reattachBucketedTable(spark, t, dir)
    }
    (if (attached) "attached+" else "") + Dedup.recoverCompact(spark, t)
  }

  /** The WHEN-TO-COMPACT rule as code (r17; the refit-cadence
    * discipline applied to the file-count axis): a bucketed serving
    * table gains at most one file per bucket per
    * [[Dedup.bucketedAppend]] (the one bucketed writer repartitions on
    * the bucket columns), and while the probe PLAN never regresses
    * (hash partitioning is a property of the spec), K appends are up
    * to K+1 files a bucket of per-task open overhead and lost
    * within-file sort locality. Returns true when the table holds
    * more than `maxFilesPerBucket` files a bucket on average — the
    * operator then runs [[compactUnderGate]] at the next quiet
    * window. Under the default, a table whose build and appends fill
    * every bucket trips on its 8th append (LlmSpec pins it). File
    * counts come from the table's own location listing via the Hadoop
    * FileSystem API (ADVICE r17: the old
    * `java.io.File` walk silently read 0 files for any hdfs:/s3a:
    * location — under-counting would suppress compaction forever;
    * the FS API is the object store's list-prefix at scale and
    * FAILS LOUDLY for a scheme with no configured filesystem). The
    * default 8 is the measured knee from the compaction specs'
    * fixtures: below it the fold buys little; growth past it is
    * unbounded. */
  def compactionDue(
      spark: SparkSession, table: String, maxFilesPerBucket: Int = 8): Boolean = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    val buckets = meta.bucketSpec.map(_.numBuckets).getOrElse(
      throw new IllegalArgumentException(
        s"$table has no bucket spec — compactionDue is for the bucketed serving tables"))
    val loc = new org.apache.hadoop.fs.Path(meta.location)
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    val files = fs.listStatus(loc).count(_.getPath.getName.startsWith("part-"))
    files > buckets.toLong * maxFilesPerBucket
  }

  /** The ONLINE admission loop as API (the `streaming_merge_upsert`
    * foreachBatch discipline applied to the refresh gate): per
    * micro-batch, [[Curation.incrementalRefreshServed]] probes the
    * standing indexes with the arriving docs + embeddings, `onVerdicts`
    * receives the batch's verdict frame (already materialized — sink it
    * anywhere), and [[Curation.admitRefreshBatch]] enters the batch's
    * 'train' survivors into every index BEFORE the next trigger — so a
    * duplicate arriving one batch later duplicates against the ADMITTED
    * doc (StreamingSpec pins the two-batch loop through this API). The
    * per-batch work is all batch-plan code under foreachBatch, so
    * appends re-resolve the catalog each call (no gate bounce needed —
    * the stream side holds no static relation) and idempotence under
    * batch replay composes from the per-index anti-joins.
    *
    * `batches` must stream (doc_id, text, v) rows — the doc and its
    * embedding arrive TOGETHER (the shared-id-space convention); docs
    * without embeddings may pass v = null and skip the semantic net; an
    * optional `label` column rides into the IVF index with the admitted
    * vectors (absent → −1, unknown at ingest).
    *
    * Sink semantics (ADVICE r16): `onVerdicts` runs BEFORE admission,
    * on the already-materialized verdict frame, so the sunk history
    * always records what the probe actually computed for the batch as
    * it arrived. The sink is still AT-LEAST-ONCE — a crash anywhere in
    * the batch replays it, and the replay's verdicts read `exact_dup`
    * of-self for every formerly-admitted doc (the hash index already
    * holds them); consumers deriving admitted-doc counts should fold
    * self-dup rows into their originals (same doc_id). Admission itself
    * is exactly-once-effective under that replay: [[Curation
    * .admitRefreshBatch]] routes self-dups back through the per-index
    * anti-joins, healing any partial-admit crash state. */
  def refreshIngestGate(
      batches: DataFrame, spark: SparkSession,
      hashTable: String, bandTable: String, ivfPath: String,
      evGrams: DataFrame,
      onVerdicts: (DataFrame, Long) => Unit): StreamingQuery =
    batches.writeStream.foreachBatch {
      (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val bb = Materialize(b)
        val bd = bb.select(col("doc_id"), col("text"))
        val embCols = col("doc_id").as("vec_id") +: col("v") +:
          (if (bb.columns.contains("label")) Seq(col("label")) else Nil)
        val be = bb.filter(col("v").isNotNull).select(embCols: _*)
        val verdicts = Materialize(Curation.incrementalRefreshServed(
          bd, be.select(col("vec_id"), col("v")), spark,
          hashTable, bandTable, ivfPath, evGrams))
        onVerdicts(verdicts, id)
        Curation.admitRefreshBatch(
          verdicts, bd, be, spark, hashTable, bandTable, ivfPath)
        ()
    }.start()
}
