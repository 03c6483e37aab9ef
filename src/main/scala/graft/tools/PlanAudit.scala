package graft.tools

import graft.core.LocalSession

/** Writes PLANS.md: a per-query physical-plan audit (shuffle count, join
  * strategies, parquet pushdown, codegen) over the whole `SparkEntry.queries`
  * inventory — the "explain and iterate until it's the plan you'd want"
  * evidence, kept current by regenerating per round.
  *
  * Usage: `sbt "runMain graft.tools.PlanAudit [sfDir] [outFile]"`.
  */
object PlanAudit {
  /** SHUFFLE exchanges only: "BroadcastExchange" and "ReusedExchange" both
    * contain the substring "Exchange" — subtract them (broadcasts are the
    * cheap exchange class; a reused exchange adds no new shuffle work).
    * The ONE counting rule, shared by the audit table and the plan-lock
    * tests so they can't drift. */
  def countShuffles(p: String): Int = {
    def c(n: String) = p.sliding(n.length).count(_ == n)
    c("Exchange") - c("BroadcastExchange") - c("ReusedExchange")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("PLANS.md")
    // local[4], like the specs: the plan locks are calibrated there too
    val spark = LocalSession.session(4)

    def count(p: String, needle: String): Int = p.sliding(needle.length).count(_ == needle)

    val rows = graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // execute THIS QueryExecution first: AQE only finalizes (and prints
        // codegen markers) once the plan actually runs; keep only the final
        // ("Current") tree — AQE's toString appends the Initial Plan too
        df.collect()
        val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
        val joins = Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
          "BroadcastNestedLoopJoin", "CartesianProduct")
          .map(j => j -> count(p, j)).filter(_._2 > 0)
          .map { case (j, n) => s"$j x$n" }.mkString(", ")
        val pushed = p.contains("PushedFilters: [") &&
          !p.split("PushedFilters: \\[")(1).startsWith("]")
        Seq(
          name,
          countShuffles(p).toString,
          if (joins.isEmpty) "—" else joins,
          if (pushed) "yes" else "—",
          count(p, "HashAggregate") + count(p, "ObjectHashAggregate") + count(p, "SortAggregate") match {
            case 0 => "—"
            case n => s"$n (${count(p, "partial_")} partial)"
          },
          ("""\*\((\d+)\)""".r.findAllMatchIn(p).map(_.group(1)).toSet.size
            + count(p, "WholeStageCodegen")).toString)
      } catch {
        case e: Throwable => Seq(name, "ERR", e.getClass.getSimpleName, "", "", "")
      }
    }

    val header = Seq("query", "exchanges", "join strategies", "pushdown", "aggregates", "codegen spans")
    val table = (Seq(header, header.map(_ => "---")) ++ rows)
      .map(_.mkString("| ", " | ", " |")).mkString("\n")
    // NB: the table is appended OUTSIDE the stripMargin block — its rows
    // start with '|', which stripMargin would treat as margin and eat.
    val pre =
      s"""# PLANS — physical-plan audit of every `SparkEntry.queries` entry
         #
         #Generated by `graft.tools.PlanAudit` at $sfDir (regenerate per round).
         #Read this next to COVERAGE.md: "exchanges" is the SHUFFLE count in
         #the final (AQE) physical plan — BroadcastExchange is excluded (it
         #moves a bounded build side, not the data; broadcasts show up in the
         #join-strategies column) — "pushdown" means non-empty parquet
         #PushedFilters, "partial" counts map-side partial aggregation
         #operators, "codegen spans" counts distinct whole-stage-codegen
         #regions in the executed plan. Plan-shape invariants (no nested-loop
         #range join, broadcast-only dimension joins, shuffle-free upload) are
         #enforced in PlanChecksSpec; this file is the full-inventory view.
         #
         #Reading notes: BroadcastNestedLoopJoin appears where a SMALL
         #broadcast side meets the corpus by design — s01/s03/s04 broadcast
         #the query/anchor set against the embeddings scan; since r3 the
         #LSH bucket / IVF cell is computed in that narrow projection, so
         #the corpus itself is never shuffled for assignment (the only
         #vector-bearing shuffle left is the 8-row anchor aggregate).
         #q07's full-outer set-op join is SortMergeJoin by necessity (full
         #outer cannot broadcast); r01's precedence union likewise runs a
         #full-outer SortMergeJoin on the segment id. s02's single shuffle
         #is the block-pair groupByKey — the distributed exact all-pairs
         #plan (replication factor = block count, no driver state).
         #d05's single shuffle is its block-pair groupByKey (local-vocab
         #bitset kernel per task — exact, no global vocabulary); d06
         #bounds all work by the LSH candidate count.
         #Queries with 0 exchanges are either fully narrow
         #(per-partition kernels: d02, m01, t01-t04) or broadcast-map
         #patterns (d07 applies a driver union-find map).
         #r12: most counts carry +1/+2 from Tables' ADAPTIVE SCAN SPREAD —
         #a round-robin exchange inserted only when a table's bytes fit
         #inside ONE scan split (the audit SF always qualifies), because a
         #single-row-group parquet file is unsplittable and every narrow
         #kernel before the first exchange would otherwise run single-task.
         #The spread self-disables above one split of input, so production
         #shapes are unchanged; at THIS audit SF it replaces the scan-side
         #parallelism, not adds to it. d03's candidate-pair `.distinct()`
         #exchange is GONE the same round (row-local smallest-shared-band
         #dedup — the d09 discipline generalized), which is why the
         #d03/d06/d15 rows lost an exchange/aggregate pair.
         #g02's row shows a degenerate plan at this audit SF: the
         #full-signature edge set has ZERO triangles at sf0.001, so AQE's
         #empty-relation propagation collapses the wedge joins to empty
         #local scans; PlanChecksSpec locks the real join shape at sf0.01
         #where triangles exist.
         #q19 is an EXPLICITLY-LABELED NAIVE BASELINE (full-salt: whole
         #build side replicated SaltR×) kept so q27's profile-gated
         #partial salting has a measurable reference — q27 is the
         #production form (1.4× vs 4.5× at the 10× scale probe).
         #""".stripMargin('#')
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), pre + "\n" + table + "\n")
    println(s"wrote $out (${rows.length} queries)")
    spark.stop()
  }
}
