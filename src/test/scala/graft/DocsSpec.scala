package graft

import org.scalatest.funsuite.AnyFunSuite

/** The blueprint documents' coverage numbers must match the code
  * (VERDICT r6 "What's wrong" #3: three documents carried three
  * different query counts). COVERAGE.md is the single numeric source
  * of truth — its totals line is derived-checked against
  * `SparkEntry.all` here, and the other blueprint docs must NOT carry
  * their own (driftable) copies of the count.
  */
class DocsSpec extends AnyFunSuite {

  // docs and code scans both resolve against the working directory (the
  // checkout under test), so one tree's code is never checked against
  // another tree's docs
  private def read(name: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(name)), "UTF-8")

  /** Every `src/main/scala` source file with its comments stripped. */
  private def mainCode: Seq[(java.nio.file.Path, String)] =
    java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
      .map(p => p -> new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        .replaceAll("(?s)/\\*.*?\\*/", "").split("\n").map(_.replaceAll("//.*$", ""))
        .mkString("\n"))

  test("COVERAGE.md totals line equals the declared-query registry") {
    val totalsRe =
      """Totals: (\d+) oracle-checked \+ (\d+) rows-only = (\d+) declared queries""".r
    val ms = totalsRe.findAllMatchIn(read("COVERAGE.md")).toSeq
    assert(ms.size === 1, "COVERAGE.md must carry exactly one totals line")
    val oracle = SparkEntry.all.count(_.oracle.isDefined)
    val rowsOnly = SparkEntry.all.count(_.oracle.isEmpty)
    assert(ms.head.group(1).toInt === oracle, s"oracle-checked count is $oracle")
    assert(ms.head.group(2).toInt === rowsOnly, s"rows-only count is $rowsOnly")
    assert(ms.head.group(3).toInt === SparkEntry.all.size,
      s"declared total is ${SparkEntry.all.size}")
  }

  test("SURVEY.md and README.md defer to COVERAGE.md instead of carrying their own counts") {
    val countClaim = """\d+\s+declared\s+quer""".r
    for (f <- Seq("SURVEY.md", "README.md")) {
      assert(countClaim.findFirstIn(read(f)).isEmpty,
        s"$f carries its own declared-query count — COVERAGE.md is the single source")
    }
  }

  test("every graft main README.md names in backticks exists") {
    // a deleted probe or dump must leave the docs with it
    val mainRe = """`(\w+(?:Probe|Dump)|Verify|Bench|PlanAudit)`""".r
    val named = mainRe.findAllMatchIn(read("README.md")).map(_.group(1)).toSeq.distinct
    assert(named.contains("Verify") && named.exists(_.endsWith("Probe")),
      s"the README scan found no harness mains — the pattern is measuring nothing: $named")
    val missing = named.filterNot { n =>
      scala.util.Try(Class.forName(s"graft.$n$$").getMethod("main", classOf[Array[String]]))
        .isSuccess
    }
    assert(missing.isEmpty,
      s"README.md names graft mains that do not exist: ${missing.mkString(", ")}")
  }

  test("README.md names every graft main in src/main, and no other") {
    // the reverse of the check above: a main the README does not name
    // is a harness nobody is told to run
    val mainRe = """`(\w+(?:Probe|Dump)|Verify|Bench|PlanAudit)`""".r
    val named = mainRe.findAllMatchIn(read("README.md")).map(_.group(1)).toSet
    val objectRe = """(?m)^object\s+(\w+)""".r // top-level objects only
    val mains = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        val at = src.indexOf("def main(args: Array[String])")
        if (!src.startsWith("package graft\n") || at < 0) None
        else objectRe.findAllMatchIn(src.take(at)).toSeq.lastOption.map(_.group(1))
      }.toSet
    assert(mains.contains("Verify") && mains.contains("Bench"),
      s"the source scan missed the driver mains — it is measuring nothing: $mains")
    assert(mains === named,
      s"graft mains README.md does not name: ${(mains -- named).mkString(", ")}; " +
        s"README names that are not mains: ${(named -- mains).mkString(", ")}")
  }

  test("declared query names are unique and every headline query exists") {
    val names = SparkEntry.all.map(_.name)
    assert(names.distinct.size === names.size,
      s"duplicate names: ${names.diff(names.distinct).distinct}")
    val missing = SparkEntry.headline.filterNot(names.contains)
    assert(missing.isEmpty, s"headline references unknown queries: $missing")
  }

  test("every rows-only query is documented-seeded or has a _pinned/_exact sibling") {
    // VERDICT r12 task 5: the rows-only population must never grow
    // silently. A `Q.noOracle` declaration is legitimate only when the
    // nondeterminism is inherent (seeded sampling, engine-private
    // sketch bits, ML training, k-means codebooks) — in which case it
    // must be on the documented list below with its reason — or when a
    // hash-pinned `<name>_pinned` / `<name>_exact` counterpart pins
    // the same semantics. Any new rows-only query fails here until it
    // is paired or documented, so the code and the round ADVICE's
    // nondeterminism inventory cannot drift apart.
    val documentedSeeded: Map[String, String] = Map(
      // agg_approx_distinct and decontam_bloom_fpr left this list in
      // r19: each now pairs through an oracle-green `_pinned` sibling
      // (the graft-HLL estimate on the same table/column; the
      // relational bloom FPR audit) — only the engines' private sketch
      // BITS stay rows-only, per the sibling rule below.
      // embed_ivf_topk and embed_pq_topk pair through their
      // oracle-green siblings embed_ivf_topk_pinned / embed_pq_topk_pinned
      // (r15): the full serving paths — cell assignment + nProbe prune
      // + exact top-k, and subspace encode + LUT + ADC sum + top-k —
      // hash-pin over md5-seeded centroids/codebooks; only k-means
      // iteration QUALITY stays with the recall audits.
      "embed_pq_rerank" -> "k-means codebook seeds; exact rerank tail tested in spec; encode/LUT/ADC machinery pinned by embed_pq_topk_pinned, the Lloyd UPDATE step by embed_kmeans_step_pinned (r16)",
      "embed_ivfpq_topk" -> "k-means codebook seeds; recall audits oracle-checked; both composed serving paths pinned (embed_ivf_topk_pinned cell pruning + embed_pq_topk_pinned ADC) and the Lloyd UPDATE step by embed_kmeans_step_pinned (r16) — the unpinned remainder is iteration-to-convergence quality alone",
      "ml_contributions" -> "GBT training output; Saabas identity Σcontrib=score−bias tested in spec",
      "ml_e2e_metrics" -> "MLlib GBT training nondeterminism; exact AUC pinned by ml_auc_exact",
      "ml_e2e_early_stop" -> "MLlib GBT training nondeterminism; planted-signal PR-AUC tested in spec",
      "sample_downsample_union" -> "seeded Bernoulli sampler; exact stratified sampler oracle-checked (curation_stratified_sample)",
      "sample_topk_rand" -> "seeded rand() ordering; invariants tested in spec, exact weighted sampler oracle-checked (sample_weighted_es)",
      // text_bpe_encode left this list in r18: the unrolled-CTE BPE
      // oracle (bpeTrainOracleSql / bpeEncodeOracleSql) made both the
      // learning and the encode hash-checkable — the first rows-only
      // SHRINK since the gate was installed.
    )
    // the sibling must itself be ORACLE-checked — a rows-only sibling
    // named _pinned would otherwise satisfy the gate with zero oracle
    // coverage (r13 review)
    val oracleNames = SparkEntry.all.filter(_.oracle.isDefined).map(_.name).toSet
    val rowsOnly = SparkEntry.all.filter(_.oracle.isEmpty).map(_.name)
    val unpaired = rowsOnly.filterNot { n =>
      documentedSeeded.contains(n) ||
        oracleNames.contains(s"${n}_pinned") || oracleNames.contains(s"${n}_exact")
    }
    assert(unpaired.isEmpty,
      s"rows-only queries with neither a documented-seeded reason nor a " +
        s"_pinned/_exact sibling: ${unpaired.mkString(", ")}")
    // the documented list must not go stale: every entry still declared,
    // still rows-only (an oracle upgrade should remove its entry)
    val stale = documentedSeeded.keys.filterNot(rowsOnly.contains)
    assert(stale.isEmpty,
      s"documented-seeded entries no longer rows-only declarations: ${stale.mkString(", ")}")
  }

  test("Bench.loadBaseline parses the newest round artifact (drift table precondition)") {
    // the drift-controlled table silently degrades to null when the
    // baseline parse fails — this pins the parser against the REAL
    // artifact format so a driver-side format change breaks a test,
    // not the round's perf signal
    val base = Bench.loadBaseline()
    assert(base.nonEmpty, "no BENCH_r{N}.json parsed from the repo")
    val (name, queries, anchors, forced) = base.get
    assert(name.matches("BENCH_r\\d+\\.json"), s"unexpected baseline $name")
    assert(queries.nonEmpty && queries.values.forall(_ > 0),
      s"baseline queries empty or nonpositive: $queries")
    assert(anchors.keySet === Set("anchor_cpu", "anchor_shuffle", "anchor_sort"),
      s"anchor set drifted: ${anchors.keySet}")
    // r14+ artifacts carry the forced-consumer block; its parse is the
    // precondition of the forced drift table (VERDICT r14 task 2)
    assert(forced.nonEmpty && forced.values.forall(_ > 0),
      s"baseline forced block empty or nonpositive: $forced")
  }

  test("materialization census: only Materialize.scala checkpoints, caches or releases a frame") {
    // one call type: every checkpoint, cache and release goes through
    // graft.Materialize, so the reliable-checkpoint setting and the
    // release-in-finally rule cover every site. No allowlist.
    val calls = Seq(".localCheckpoint(", ".checkpoint(", ".persist(", ".unpersist(",
      ".cache(", "StorageLevel")
    def hits(src: String): Seq[String] = calls.filter(src.contains)
    val (policy, rest) = mainCode.partition(_._1.getFileName.toString == "Materialize.scala")
    assert(policy.size === 1 && hits(policy.head._2).size >= 4,
      "the census found no materialization calls in Materialize.scala — the scan is measuring nothing")
    assert(rest.size > 50, s"the census scanned only ${rest.size} files")
    val offenders = rest.map { case (p, src) => p -> hits(src) }.filter(_._2.nonEmpty)
    assert(offenders.isEmpty,
      "materialize through graft.Materialize, not per call site: " +
        offenders.map { case (p, h) => s"$p: ${h.mkString(", ")}" }.mkString("; "))
  }

  test("edge-layout census: only Dedup.undirected repartitions on a") {
    // one symmetric edge layout for the iterative graph tier: a loop
    // that re-derives it by hand can drift from the shape the censuses
    // and plan dumps pin. No allowlist.
    val layout = """.repartition(col("a"))"""
    val defRe = """def\s+(\w+)""".r
    val sites = mainCode.flatMap { case (p, src) =>
      Iterator.iterate(src.indexOf(layout))(i => src.indexOf(layout, i + 1)).takeWhile(_ >= 0)
        .map(at => s"${p.getFileName}:${defRe.findAllMatchIn(src.take(at)).toSeq.last.group(1)}")
    }
    assert(sites === Seq("Dedup.scala:undirected"),
      s"build the edge layout with Dedup.undirected, not by hand: ${sites.mkString(", ")}")
  }

  /** Each occurrence of `token` in the comment-stripped code of the
    * llm and streaming tiers (the serving-index code), as
    * `File.scala:enclosingMemberDef` (a def nested in a member counts
    * as the member). */
  private def indexTierSites(token: String): Seq[String] = {
    val defRe = """(?m)^  (?:[\w\[\]]+\s+)*def\s+(\w+)""".r
    val scoped = mainCode.filter { case (p, _) =>
      val s = p.toString.replace('\\', '/')
      s.contains("/graft/llm/") || s.contains("/graft/streaming/")
    }
    assert(scoped.size > 5, s"the census scanned only ${scoped.size} files")
    scoped.flatMap { case (p, src) =>
      Iterator.iterate(src.indexOf(token))(i => src.indexOf(token, i + 1)).takeWhile(_ >= 0)
        .map(at => s"${p.getFileName}:${defRe.findAllMatchIn(src.take(at)).toSeq.last.group(1)}")
    }
  }

  test("bucketed-write census: only Dedup.bucketedWriter calls bucketBy in the llm and streaming tiers") {
    // one bucketed writer for the serving indexes: it repartitions on
    // the bucket columns first, so every build, append, compaction and
    // refit lands at most one file per bucket. A hand-written bucketBy
    // skips that and lands one file per (task, bucket) pair. No
    // allowlist.
    val sites = indexTierSites(".bucketBy(")
    assert(sites === Seq("Dedup.scala:bucketedWriter"),
      s"write serving indexes through Dedup.bucketedWriter, not by hand: ${sites.mkString(", ")}")
  }

  test("index-swap census: only Dedup.swapTable and recoverCompact rename a table; no directory swap or cluster-partitioned write") {
    // one storage and commit protocol for every serving index: each
    // family is a bucketed catalog table, replaced through the one
    // swap and completed by the one recovery. A hand-copied
    // DROP→RENAME, a directory move or a cluster-partitioned write is
    // a second protocol with crash states nothing recovers.
    val renames = indexTierSites("RENAME TO").distinct.sorted
    assert(renames === Seq("Dedup.scala:recoverCompact", "Dedup.scala:swapTable"),
      s"swap serving tables through Dedup.swapTable, not by hand: ${renames.mkString(", ")}")
    val other = indexTierSites("Files.move") ++ indexTierSites(""".partitionBy("cluster")""")
    assert(other.isEmpty,
      s"serving indexes are bucketed catalog tables, not directories: ${other.mkString(", ")}")
  }

  test("every declared query name appears in COVERAGE.md's inventory") {
    // VERDICT r7 task 5: the totals line is derived-checked above, but two
    // line-by-line rows were still skipped in r7 — names, not just counts,
    // are the coverage contract.
    val coverage = read("COVERAGE.md")
    val missing = SparkEntry.all.map(_.name).filterNot(n => coverage.contains(s"`$n`"))
    assert(missing.isEmpty,
      s"COVERAGE.md has no row mentioning: ${missing.mkString(", ")}")
  }
}
