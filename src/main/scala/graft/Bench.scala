package graft
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Per-round benchmark: every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, one JSON line on stdout.
  *
  * Methodology:
  *   - a full warmup pass first, so JVM/codegen/parquet-footer warmup
  *     isn't billed to whichever query runs first;
  *   - fixed (sorted) query order, so rounds are comparable;
  *   - `noop` sink, so the measured plan is the *declared* plan —
  *     `count()` would let Catalyst drop the final sort and prune
  *     every unreferenced column;
  *   - per-query MEDIAN over 3 measured passes, so a GC pause or
  *     position artifact in one pass (r3: q1_pricing billed 3.4× its
  *     own plan cost for running first) doesn't pollute the round
  *     comparison;
  *   - per-query shuffle/spill/input BYTES via [[BenchMetricsListener]]
  *     recorded into the JSON next to the wall
  *     numbers, plus a shuffle-amplification tripwire — bytes are
  *     machine-independent plan facts, so a wall-clock delta with
  *     unchanged bytes is environment noise, not a plan regression;
  *   - per-query generated-class compiles and janino milliseconds, summed
  *     over the measured passes, so a codegen cache miss shows as a
  *     nonzero `codegen_compiles`; the warm-up pass's total is the
  *     number of distinct classes one pass compiles.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.tune(
        SparkSession.builder().master(s"local[$cpus]"), cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // SPARK_GRAFT_ONLY=q_a,q_b — iterate on a subset without paying the
    // whole battery; the driver never sets it, so round numbers are full.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))

    // SPARK_GRAFT_EXPLAIN=1 — dump each selected query's formatted plan
    // before benching (plan-shape iteration loop; driver never sets it).
    if (sys.env.contains("SPARK_GRAFT_EXPLAIN"))
      names.foreach { n =>
        println(s"===== $n =====")
        SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      }
    // First failure reason per query, logged ONCE to stderr (39 crashes
    // once shipped as bare -1s with no recorded error). The -1
    // sentinel semantics are unchanged; this only makes the cause visible
    // in the round log.
    val reported = scala.collection.mutable.Set.empty[String]
    // per-query byte accounting — attribution by job
    // group, drained via a marker job before totals are read
    val metrics = new BenchMetricsListener
    spark.sparkContext.addSparkListener(metrics)
    // (compiles, janino ms) per (query, pass): deltas of the JVM-wide
    // codegen counters, which the local executor shares with the driver
    val codegen = scala.collection.mutable.Map.empty[(String, Int), (Long, Long)]
    def runOne(name: String, pass: Int): Double = {
      spark.sparkContext.setJobGroup(s"$name#$pass", name, interruptOnCancel = false)
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val ns0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        if (reported.add(name))
          Console.err.println(
            s"[bench] FAIL $name: ${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator.take(3).mkString(" | ")}")
        return -1.0
      } finally {
        codegen((name, pass)) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0,
          (CodeGenerator.compileTime - ns0) / 1000000)
        spark.sparkContext.clearJobGroup()
      }
      (System.nanoTime() - t0) / 1e9
    }

    names.foreach(runOne(_, 0)) // warmup pass (discarded)
    val passes = (1 to 3).map(p => names.map(n => n -> runOne(n, p)).toMap)
    // median of 3: a query counts as failed only if it failed in EVERY
    // pass (a transient flake shouldn't zero an otherwise-working query,
    // but it must not silently shrink the median population either).
    // Lower-middle on an even population: with one flaked pass the two
    // survivors must not bill the query its WORST observed time.
    val results3 = names.map { n =>
      val ok = passes.map(_(n)).filter(_ >= 0).sorted
      n -> (if (ok.isEmpty) -1.0 else ok((ok.size - 1) / 2))
    }
    val failed = results3.collect { case (n, v) if v < 0 => n }

    // Drain the listener bus: the marker job's job-start is processed
    // strictly after every event the measured passes emitted, so once
    // flushSeen flips, byGroup is complete. Bounded poll — a wedged
    // bus must not hang the bench (bytes just come up partial).
    spark.sparkContext.setJobGroup(BenchMetricsListener.FlushGroup, "flush", false)
    spark.sparkContext.parallelize(1 to 1, 1).count()
    spark.sparkContext.clearJobGroup()
    val drainDeadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (!metrics.flushSeen && System.nanoTime() < drainDeadline) Thread.sleep(20)
    if (!metrics.flushSeen)
      Console.err.println("[bench] WARN: listener bus did not drain; byte totals may be partial")

    // Per-query bytes from the LAST pass that succeeded for that query
    // (bytes are plan facts — far more stable than wall clock — so one
    // representative pass beats averaging in a flaked partial run).
    val bytesFor: Map[String, Option[metrics.Bytes]] = names.map { n =>
      n -> (3 to 1 by -1).collectFirst {
        case p if passes(p - 1)(n) >= 0 && metrics.byGroup.contains(s"$n#$p") =>
          metrics.byGroup(s"$n#$p")
      }
    }.toMap
    // Shuffle-amplification tripwire: a query whose
    // shuffle write exceeds 4× its input scan bytes (and is big enough
    // to matter, >64 MB) is moving more data than it reads — either an
    // intentional explode (document it) or a plan regression (fix it).
    val AmpFactor = 4L
    val AmpFloor = 64L * 1024 * 1024
    val ampFlags = names.filter { n =>
      bytesFor(n).exists(b =>
        b.shuffleWrite > AmpFloor && b.shuffleWrite > AmpFactor * math.max(b.input, 1L))
    }
    ampFlags.foreach { n =>
      val b = bytesFor(n).get
      Console.err.println(
        s"[bench] SHUFFLE-AMP $n: wrote ${b.shuffleWrite} shuffle bytes vs ${b.input} input bytes (> ${AmpFactor}x)")
    }
    val bytesJson = names.flatMap { n =>
      bytesFor(n).map(b =>
        s""""$n":{"shuffle_read":${b.shuffleRead},"shuffle_write":${b.shuffleWrite},"spill_disk":${b.spillDisk},"spill_mem":${b.spillMem},"input":${b.input}}""")
    }.mkString("{", ",", "}")
    val ampJson = ampFlags.map("\"" + _ + "\"").mkString("[", ",", "]")
    def codegenOf(ps: Seq[(String, Int)]): (Long, Long) = {
      val cs = ps.flatMap(codegen.get)
      (cs.map(_._1).sum, cs.map(_._2).sum)
    }
    def codegenJson(c: (Long, Long)): String =
      s"""{"codegen_compiles":${c._1},"compile_ms":${c._2}}"""
    val measuredCodegen = names.map(n => n -> codegenOf((1 to 3).map(n -> _)))
    val codegenJsonAll = measuredCodegen.map { case (n, c) => s""""$n":${codegenJson(c)}""" }
      .mkString("{", ",", "}")
    val warmupCodegen = codegenOf(names.map(_ -> 0))

    // Regression tripwire vs the COMMITTED baseline:
    // read the previous artifact at benchOut BEFORE overwriting it and
    // compare per query. Bytes are machine-independent plan facts, wall
    // is not — so the two signals adjudicate each other:
    //   - wall moved >1.4× while bytes stayed within ±10%  → machine
    //     noise (WALL-DRIFT warn; the r13 q_oov_rate/q_quality_score
    //     class, adjudicated manually then, automated here);
    //   - bytes moved >1.25× (and are big enough to matter) → the PLAN
    //     changed shape (PLAN-REGRESS fail — this one means a commit
    //     made a query move more data, which no re-run will fix).
    // Comparison only applies when the baseline ran the same SF dir;
    // sub-0.2 s baseline walls are below the measured machine variance
    // floor and tiny byte totals (<8 MB) jitter with AQE stats, so both
    // are excluded rather than flagged as false positives.
    val benchOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    case class Base(wall: Double, bytes: Long)
    val baseline: Map[String, Base] = try {
      val p = java.nio.file.Paths.get(benchOut)
      if (!java.nio.file.Files.exists(p)) Map.empty
      else {
        import org.json4s._
        import org.json4s.jackson.JsonMethods
        val j = JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
        val sfOk = (j \ "sf") match { case JString(v) => v == sfDir; case _ => false }
        if (!sfOk) Map.empty
        else {
          val walls = (j \ "queries") match {
            case JObject(fs) => fs.collect {
              case (k, JDouble(v)) => k -> v
              case (k, JInt(v))    => k -> v.toDouble
            }.toMap
            case _ => Map.empty[String, Double]
          }
          def num(v: JValue): Long = v match {
            case JInt(x) => x.toLong; case JLong(x) => x; case JDouble(x) => x.toLong; case _ => 0L
          }
          val bts = (j \ "bytes") match {
            case JObject(fs) => fs.map { case (k, b) =>
              k -> (num(b \ "shuffle_read") + num(b \ "shuffle_write") + num(b \ "input"))
            }.toMap
            case _ => Map.empty[String, Long]
          }
          walls.collect { case (k, w) if w >= 0 => k -> Base(w, bts.getOrElse(k, 0L)) }
        }
      }
    } catch { case scala.util.control.NonFatal(e) =>
      Console.err.println(s"[bench] WARN: could not read baseline $benchOut: $e"); Map.empty
    }
    val WallDrift = 1.4
    val BytesBand = 0.10
    val BytesRegress = 1.25
    val WallFloor = 0.2
    val BytesFloor = 8L * 1024 * 1024
    def curBytes(n: String): Long =
      bytesFor(n).map(b => b.shuffleRead + b.shuffleWrite + b.input).getOrElse(0L)
    val compared = results3.collect {
      case (n, w) if w >= 0 && baseline.contains(n) =>
        val b = baseline(n)
        (n, w / b.wall, (curBytes(n).toDouble + 1) / (b.bytes.toDouble + 1), curBytes(n))
    }
    // WALL-DRIFT's "machine noise" verdict needs BYTE EVIDENCE: a query
    // with no recorded byte metrics falls back to 0 on both sides, the
    // ratio degenerates to 1, and a real regression would be waved
    // through — so absent bytes get their own unadjudicated label
    // instead. The WallFloor gate applies ONLY here
    // (sub-0.2 s walls are below machine variance); the BYTES compare
    // below runs for every query, fast or slow — a plan that moves
    // 1.25× the data regressed no matter how quick the baseline was.
    val wallDriftCandidates = compared.collect {
      case (n, wr, br, _) if baseline(n).wall >= WallFloor && wr > WallDrift &&
        bytesFor(n).isDefined && br >= 1 - BytesBand && br <= 1 + BytesBand => n }
    // Byte-flat wall movers are adjudicated LAST:
    // wall clock is the least trustworthy signal — the r15 driver
    // round carried 13 WALL-DRIFT warns, every one byte-flat machine
    // noise by the tripwire's own rule — so before a byte-flat mover
    // is even WARNED about, the query is re-measured twice more and
    // its median recomputed over all (≤5) successful passes. Only a
    // drift that SURVIVES the re-measure is reported, and the
    // re-measured median is what ships in the artifact; a GC pause or
    // page-cache miss in one of the original three passes is absorbed
    // instead of flagged. Queries that never drifted keep their
    // median-of-3 (5 passes × 208 queries would triple the round's
    // bench wall for nothing).
    // BYTE METRICS ARE FROZEN PRE-RE-MEASURE BY DESIGN:
    // `compared` ratios and wallDriftNoBytes keep the 3-pass state,
    // and the runOne(n, 4)/runOne(n, 5) passes below execute after
    // the listener-bus drain, so their byte metrics are never drained
    // or attributed. Only WALL medians may be updated by re-measure —
    // do not read bytes after this point.
    val remeasured: Map[String, Double] = wallDriftCandidates.map { n =>
      val extra = Seq(runOne(n, 4), runOne(n, 5)).filter(_ >= 0)
      val all = (passes.map(_(n)).filter(_ >= 0) ++ extra).sorted
      n -> (if (all.isEmpty) -1.0 else all((all.size - 1) / 2))
    }.toMap
    val results = results3.map { case (n, w) => n -> remeasured.getOrElse(n, w) }
    val wallDriftFlags = wallDriftCandidates.filter { n =>
      remeasured(n) >= 0 && remeasured(n) / baseline(n).wall > WallDrift }
    val wallDriftNoBytes = compared.collect {
      case (n, wr, _, _) if baseline(n).wall >= WallFloor && wr > WallDrift &&
        bytesFor(n).isEmpty => n }
    val planRegressFlags = compared.collect {
      case (n, _, br, cb) if br > BytesRegress && cb > BytesFloor => n }
    wallDriftFlags.foreach { n =>
      Console.err.println(f"[bench] WALL-DRIFT $n: wall ${results.toMap.apply(n)}%.3f s vs baseline ${baseline(n).wall}%.3f s with bytes within ±10%% — machine noise, not a plan change") }
    wallDriftNoBytes.foreach { n =>
      Console.err.println(f"[bench] WALL-DRIFT $n: wall ${results.toMap.apply(n)}%.3f s vs baseline ${baseline(n).wall}%.3f s with NO byte data — unadjudicated, re-run to adjudicate") }
    planRegressFlags.foreach { n =>
      Console.err.println(s"[bench] PLAN-REGRESS $n: moved ${curBytes(n)} bytes vs baseline ${baseline(n).bytes} (> ${BytesRegress}x) — the plan changed shape") }
    val wallDriftJson = wallDriftFlags.map("\"" + _ + "\"").mkString("[", ",", "]")
    val wallDriftNoBytesJson = wallDriftNoBytes.map("\"" + _ + "\"").mkString("[", ",", "]")
    val planRegressJson = planRegressFlags.map("\"" + _ + "\"").mkString("[", ",", "]")

    // 3-decimal seconds: ms precision is far below the measured
    // same-day machine variance (0.62-0.83 s/query across identical
    // runs, BASELINE.md) and halves the JSON line's byte size.
    def fmt(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // failures are reported, never summed (a crash must not lower the total)
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val full =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"failed":$failedJson,"bytes":$bytesJson,"shuffle_amp_flags":$ampJson,"wall_drift_flags":$wallDriftJson,"wall_drift_nobytes":$wallDriftNoBytesJson,"plan_regress_flags":$planRegressJson,"codegen":$codegenJsonAll,"codegen_warmup":${codegenJson(warmupCodegen)},"sf":"$sfDir"}"""
    // The driver keeps only the LAST ~2000 chars of stdout and sbt
    // appends its own "[success]" line after ours, so the ~4 KB
    // per-query line can never arrive whole (BENCH_r09 parsed:null,
    // truncated at 84/149 queries). Split the output:
    //   1. full per-query JSON first (tail may clip it — that's fine);
    //   2. the same full JSON persisted to BENCH_LOCAL.json in the
    //      repo for committing/diffing;
    //   3. a <200-byte summary as the FINAL line, which always fits
    //      the capture window and parses even with sbt's epilogue.
    println(full)
    // Anchor the artifact to the repo (SPARK_GRAFT_BENCH_OUT overrides;
    // falls back to CWD) so runs launched elsewhere don't scatter it —
    // and swallow only NonFatal with a visible warning: an OOM or
    // interrupt must propagate, not vanish.
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(benchOut),
      (full + "\n").getBytes("UTF-8"))
    catch { case scala.util.control.NonFatal(e) =>
      Console.err.println(s"[bench] WARN: could not write $benchOut: $e")
    } // bench results still on stdout
    // stop BEFORE the summary so no shutdown logging can follow it;
    // a failed stop must not eat the results.
    try spark.stop()
    catch { case scala.util.control.NonFatal(e) =>
      Console.err.println(s"[bench] WARN: spark.stop() failed: $e")
    }
    println(
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"failed":$failedJson,"regress":${planRegressFlags.size},"compiles":${measuredCodegen.map(_._2._1).sum},"queries_file":"$benchOut","sf":"$sfDir"}""")
    Console.out.flush()
    // SPARK_GRAFT_STRICT=1 turns a plan regression into a hard CI
    // failure (local gate use); the driver's round bench stays exit-0
    // so one regressed query can't blank the whole round's artifact.
    if (planRegressFlags.nonEmpty && sys.env.contains("SPARK_GRAFT_STRICT"))
      sys.exit(1)
  }
}
