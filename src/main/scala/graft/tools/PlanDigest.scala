package graft.tools

import graft.Verify.{jsonString => jq}
import java.nio.file.{Files, Paths}

/** Physical-plan regression pins (VERDICT r7 task 7): for every declared
  * query, record a NORMALIZED digest of the physical plan so an accidental
  * broadcast→shuffle flip, lost pushed filter, or widened scan diffs loudly
  * between rounds even when wall-time noise hides it.
  *
  * Normalization strips everything that legitimately varies run-to-run —
  * expression ids (`#123`), plan/stage ids, codegen ids, file paths and
  * their sizes, in-memory table names, statistics — and keeps the operator
  * tree, join strategies, pushed filters, and read schemas. The digest is a
  * SHA-256 of that canonical text; the full canonical text ships next to it
  * so a digest diff is immediately inspectable (`tools/plans_diff.py`).
  *
  * Known residual flakes: AQE's build-side choice on a SYMMETRIC self-join
  * (q274's LSH band self-join — both sides the same cached relation) ties
  * on runtime stats and can flip BuildLeft↔BuildRight between runs,
  * moving the BroadcastExchange to the other child; q288's AQE exchanges
  * flip the same way. Both depend on what earlier lanes in the same JVM
  * materialized (q274 digested alone gives a third digest). Not
  * normalized away: on asymmetric joins the build side is a real
  * regression signal, and forcing a broadcast hint in the dedup code would
  * pin a choice that is only correct at tiny SF (at scale that join is
  * sort-merge). Treat a q274/q288-only diff as noise.
  *
  * Run at sf0.001 (plans are pinned for their SHAPE — strategies chosen
  * from static estimates — and queries whose construction executes work,
  * e.g. the streaming lanes' bounded ingestion, stay cheap there):
  *   sbt "runMain graft.tools.PlanDigest /root/testdata/sf0.001 bench/plans_r7.json"
  */
object PlanDigest {

  /** Permutation-canonical form of one plan line: recursively sorts the
    * comma-separated segments inside every bracket level (and at the top).
    * Applied ONLY to lines carrying Catalyst's RewriteDistinctAggregates
    * `gid` artifact: with ≥2 count-distincts in one agg (q91), the rewrite
    * assigns gid branches in expression-hash order, which varies with the
    * session-global exprId counter state — the same binary produces
    * Expand/keys/FILTER lists permuted between JVM runs. The two variants
    * are pure per-level permutations of each other, so a per-level sort
    * maps both to one canonical string; any REAL change (different
    * function, column set, partition count) still changes the sorted form.
    */
  private[tools] def canonPermutation(line: String): String = {
    def inner(start: Int, close: Char): (String, Int) = {
      val parts = collection.mutable.ArrayBuffer[String]()
      val sb = new StringBuilder
      var i = start
      while (i < line.length && line(i) != close) {
        line(i) match {
          case '[' =>
            val (c, j) = inner(i + 1, ']'); sb.append('[').append(c).append(']'); i = j + 1
          case '(' =>
            val (c, j) = inner(i + 1, ')'); sb.append('(').append(c).append(')'); i = j + 1
          case ',' => parts += sb.toString; sb.clear(); i += 1
          case ch => sb.append(ch); i += 1
        }
      }
      parts += sb.toString
      // Blank BARE integer segments inside square-bracket lists only: the
      // Expand branches of a distinct-rewrite carry the unstable gid as a
      // bare mid-branch element ([null, null, 0, cast(...)]), which the
      // sort below would otherwise order by. Done here — where bracket
      // context is known — rather than by regex over the whole line, so
      // numeric FUNCTION arguments (substring(x, 1, 8): a (..) list) are
      // genuinely untouched and adjacent numeric segments all blank.
      val blanked = parts.map(_.trim).map(p =>
        if (close == ']' && p.nonEmpty && p.forall(_.isDigit)) "K" else p)
      (blanked.sorted.mkString(","), i)
    }
    inner(0, '\u0000')._1
  }

  def normalize(plan: String, sfDir: String): String = {
    val base = plan
    .replaceAll("#\\d+L?", "#N")                        // expression ids
    // lambda-variable counters are session-global: adding ONE query shifts
    // `lambda x_85` numbering in every plan built after it
    .replaceAll("\\b([A-Za-z]\\w*)_\\d+#N", "$1_K#N")
    .replaceAll("\\[id=#?\\d+\\]", "")                  // codegen/exchange ids
    .replaceAll("plan_id=\\d+", "plan_id=N")
    // AQE materializes stages concurrently, so stage numbers and the
    // whole-stage-codegen ids derived from them vary run-to-run
    .replaceAll("QueryStage \\d+", "QueryStage N")
    .replaceAll("\\*\\(\\d+\\)", "*(C)")
    // JVM lambda class counter (MapPartitions renders the function object)
    .replaceAll("Lambda\\$\\d+/0x[0-9a-fA-F]+", "Lambda\\$N")
    .replaceAll("cachedrdd-\\d+", "cachedrdd-N")
    .replaceAll("@[0-9a-fA-F]{4,}", "@ADDR")            // identity hashes
    .replaceAll("Statistics\\([^)]*\\)", "Statistics()")
    .replaceAll("isFinalPlan=\\w+", "")
    .replaceAll(java.util.regex.Pattern.quote(sfDir), "SF_DIR")
    .replaceAll("file:[^,\\]\\s]*", "PATH")             // any absolute path
    .replaceAll("/tmp/[^,\\]\\s]*", "PATH")
    .replaceAll("\\b\\d+\\.\\d+ (B|KiB|MiB|GiB)\\b", "SIZE")
    .replaceAll("memoryUsage=\\S+", "")
    .replaceAll("stream_counts_[0-9a-f_]+", "stream_counts_X")
    .replaceAll("[ \\t]+", " ")
    .trim
    base.linesIterator
      .map { l =>
        if (!l.contains("gid#")) l
        else {
          // The gid branch NUMBERS are themselves assigned in the same
          // unstable expression-hash order (q91: `count(x) FILTER (gid=1)`
          // one run, `gid=2` the next, with the Expand branches paired to
          // match) — so blank the literals before the permutation sort.
          // Real regressions still diff: the function set, FILTER columns,
          // and Expand branch contents all survive.
          // Two shapes carry the unstable literal: `gid#N = k` filters
          // (blanked here) and the Expand branches' bare mid-branch gid
          // segments (blanked inside canonPermutation, where bracket
          // context distinguishes them from numeric function arguments).
          canonPermutation(l.replaceAll("gid#N = \\d+", "gid#N = K"))
        }
      }
      .mkString("\n")
  }

  def sha(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
    d.digest(s.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outPath = if (args.length > 1) args(1) else "bench/plans.json"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.runtime.GraftScale.session(sfDir, cpus)

    val entries = SparkEntryRef.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val canon = normalize(df.queryExecution.executedPlan.toString(), sfDir)
        Some(name -> (sha(canon), canon))
      } catch { case e: Throwable =>
        System.err.println(s"[plans] $name failed: ${e.getMessage}")
        None
      }
    }
    val json = entries.map { case (n, (d, canon)) =>
      s"${jq(n)}: {${jq("digest")}: ${jq(d)}, ${jq("plan")}: ${jq(canon)}}"
    }.mkString("{\n", ",\n", "\n}")
    Option(Paths.get(outPath).getParent).foreach(p => Files.createDirectories(p))
    Files.writeString(Paths.get(outPath), json)
    println(s"[plans] wrote ${entries.size} digests to $outPath")
    spark.stop()
  }

  /** Indirection so this tool never needs to move if SparkEntry does. */
  private object SparkEntryRef {
    def queries = graft.SparkEntry.queries
  }
}
