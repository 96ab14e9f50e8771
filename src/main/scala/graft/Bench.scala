package graft

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line. Failed queries are
  * reported explicitly in "failed" (and excluded from the total)
  * instead of hiding as negative timings.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.cpus("4"))

    // failed query or flow -> "Class: message"; a failed name is not
    // run again
    val causes = scala.collection.mutable.LinkedHashMap[String, String]()
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def timed(name: String)(body: => Unit): Option[Double] =
      try {
        val t0 = System.nanoTime()
        body
        Some((System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${JsonOut.cause(e)}")
          causes(name) = e.toString
          None
      }
    // SPARK_GRAFT_ONLY=q1,q2 restricts the run — local iteration aid
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Codegen/JIT warmup at the smallest SF (when a sibling sf0.001
    // exists): the first execution of a freshly generated whole-stage
    // method costs seconds of C2 compilation that min-of-2 at one SF
    // doesn't amortize away — the wide dedup signature aggregate was
    // reporting 3-4x its steady state. Timed numbers should measure
    // the plan, not the compiler.
    val warmDir = {
      val p = java.nio.file.Paths.get(sfDir).toAbsolutePath
      Option(p.getParent).map(_.resolve("sf0.001"))
        .filter(q => java.nio.file.Files.isDirectory(q) && q != p)
        .map(_.toString)
    }
    warmDir.foreach { wd =>
      names.foreach { case (_, fn) =>
        try noop(fn(spark, wd))
        catch { case _: Throwable => () }
      }
    }
    // Force-materialize the staged relations BEFORE pass 1 and report
    // the cost as staged_sec: otherwise pass 1's first staged consumer
    // silently pays the one-time materialization, min-of-2 discards
    // that sample, and the pass1/pass2 asymmetry pushes noise_ratio
    // above 1.0 even on a quiet host — the noise instrument ends up
    // measuring the cache instead of the machine. With staging paid up
    // front, min-of-2 compares two steady-state passes and the total
    // still carries the true cold-start cost (total + staged_sec).
    // Relations are forced in registry (dependency) order, so each
    // one's seconds and stored bytes (block-manager memory + disk) are
    // its own cost, its inputs already materialized. The force is the
    // relation's Staged.rows count (a chain's last round reads every
    // earlier round), so a build that asks for a count runs no job.
    // The bytes are the change around the force: blocks the context
    // cleaner drops in that window count against it, so a small
    // relation can read negative.
    def storedBytes(): Long =
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    val (stagedRel, stagedBytes) = Staged.names.map { n =>
      val b0 = storedBytes()
      val t0 = System.nanoTime()
      Staged.rows(spark, sfDir, n)
      (n -> (System.nanoTime() - t0) / 1e9, n -> (storedBytes() - b0))
    }.unzip
    val stagedSec = stagedRel.map(_._2).sum
    // Two INTERLEAVED end-to-end passes, per-query min across passes
    // (round-4 lesson: 2× back-to-back per query leaves both samples
    // inside the same multi-minute host-throttling window — ordered_
    // apply logged 16.08s against a real 0.62s; a window now corrupts
    // at most one pass of a query and the other pass's min wins).
    // The whole sync pass is timed as a flow in each pass too: the
    // pipeline_e2e query executes only its `applied` output.
    // Pass 2 also counts the Spark jobs each query launches while its
    // DataFrame is BUILT (ConstructJobs: a local property that every
    // job submitted meanwhile carries, so the count adds no wait to the
    // timed body). A query whose plan SparkEntry.queries keeps reads 0
    // there; the others are listed with their reason in "uncached".
    val sc = spark.sparkContext
    val syncPass = scala.collection.mutable.ListBuffer[Double]()
    val passes = (1 to 2).map { pass =>
      val t = scala.collection.mutable.LinkedHashMap[String, Double]()
      names.foreach { case (name, fn) =>
        if (!causes.contains(name))
          timed(name) {
            noop(if (pass == 2) ConstructJobs.tagged(sc, name)(fn(spark, sfDir))
              else fn(spark, sfDir))
          }.foreach(t(name) = _)
      }
      if (!causes.contains("sync_pass"))
        syncPass ++= timed("sync_pass") {
          val r = Pipeline.run(spark, sfDir)
          Seq(r.applied, r.state, r.acks, r.alerts).foreach(noop)
        }
      t
    }
    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    names.map(_._1).filterNot(causes.contains).foreach { n =>
      val samples = passes.flatMap(_.get(n))
      if (samples.nonEmpty) timings(n) = samples.min
    }
    // pass2/pass1 wall totals: ≈1.0 on a quiet host; a throttling
    // window during either pass pushes it away from 1 — the driver can
    // flag a polluted artifact instead of recording phantom regressions.
    // Sum over the key INTERSECTION: a query that failed in exactly one
    // pass must not skew the ratio on a quiet host.
    val noiseRatio = {
      val common = passes(0).keySet & passes(1).keySet
      val t1 = common.toSeq.map(passes(0)).sum
      val t2 = common.toSeq.map(passes(1)).sum
      if (t1 > 0 && t2 > 0) math.max(t1, t2) / math.min(t1, t2) else 1.0
    }
    import JsonOut.{cs, q}
    // Locale.ROOT (see JsonOut.cs): a comma-decimal default locale
    // would corrupt the JSON line
    def ms(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val fs = names.map(_._1).filter(causes.contains)
      .map(q).mkString("[", ",", "]")
    val total = timings.values.sum
    // The driver records only the LAST ~2000 chars of stdout and
    // parses the JSON line out of that tail — a full 130+-query map
    // (~2.9 KB) overflows it and the line records as unparseable (the
    // round-3 parsed:null). So the stdout line carries the top
    // TailTopK slowest queries (the ones per-round perf comparison
    // actually reads) plus n_queries/other_sec so the total still
    // reconciles; the COMPLETE per-query map and the per-relation
    // staging seconds ("staged") and bytes ("staged_bytes"), the flow
    // timings ("flows"), the pass-2 construction job counts
    // ("construct_jobs"), why each query that is built on every call
    // was not kept ("uncached") and the failed queries' causes
    // ("failed_causes")
    // go to BENCH_LOCAL.json only, in the repo, committed every round
    // for machine diffing.
    val TailTopK = 70
    val byCost = timings.toSeq.sortBy(-_._2)
    def obj(kv: Iterable[(String, Double)]): String =
      kv.map { case (k, v) => s"${q(k)}:${cs(v)}" }.mkString("{", ",", "}")
    // anchor the artifact at the repo root: SPARK_GRAFT_REPO_ROOT when
    // set (a bench launched from inside some OTHER sbt project must not
    // silently write to that project's root), else the nearest ancestor
    // of the forked JVM's cwd holding a build.sbt
    val benchLocal = {
      val cwd = java.nio.file.Paths.get(sys.props("user.dir")).toAbsolutePath
      sys.env.get("SPARK_GRAFT_REPO_ROOT")
        .map(java.nio.file.Paths.get(_).toAbsolutePath)
        .orElse(Iterator.iterate(cwd)(_.getParent).takeWhile(_ != null)
          .find(p => java.nio.file.Files.exists(p.resolve("build.sbt"))))
        .getOrElse(cwd)
        .resolve("BENCH_LOCAL.json")
    }
    System.err.println(s"[bench] writing full per-query map to $benchLocal")
    val bytesJson =
      stagedBytes.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    // -1: the listener bus did not deliver the count in time
    val constructJson = names.map(_._1).filterNot(causes.contains)
      .map(n => s"${q(n)}:${ConstructJobs.take(sc, n).getOrElse(-1)}")
      .mkString("{", ",", "}")
    val uncachedJson = names.flatMap { case (n, _) =>
      Staged.kept(spark, sfDir, n).flatMap(_.swap.toOption).map(n -> _)
    }.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")
    val causesJson =
      causes.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(benchLocal,
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","staged_sec":${ms(stagedSec)},"staged":${obj(stagedRel)},"staged_bytes":$bytesJson,"noise_ratio":${cs(noiseRatio)},"queries":${obj(timings)},"flows":${obj(syncPass.minOption.map("sync_pass" -> _))},"construct_jobs":$constructJson,"uncached":$uncachedJson,"failed":$fs,"failed_causes":$causesJson,"sf":${q(sfDir)}}""")
    val topQs = obj(byCost.take(TailTopK))
    val otherSec = byCost.drop(TailTopK).map(_._2).sum
    println(s"""{"metric":"total","value":${ms(total)},"unit":"sec","staged_sec":${ms(stagedSec)},"noise_ratio":${cs(noiseRatio)},"queries":$topQs,"n_queries":${timings.size},"other_sec":${cs(otherSec)},"failed":$fs,"sf":${q(sfDir)}}""")
    spark.stop()
  }
}
