package graft

import org.apache.spark.sql.functions._

/** Round-21 optimization pins:
  *   - the Pin seam (r20 verdict #8): `.pin()` in reliable mode produces
  *     the same rows as the default localCheckpoint mode, and the mode
  *     knob actually switches the storage path;
  *   - the index-build pq fusion: pq_encode over the carried double
  *     vector ≡ the retired productQuantize join, row for row;
  *   - Par.run: all branches complete before return, failures rethrow
  *     unwrapped;
  *   - fold_baseline.py's cal-consistent fold math (r20 verdict #9): a
  *     slow-day run's minima enter normalized to the stamp, a fast-day
  *     run moves the stamp and its own entries fold raw;
  *   - the set of runnable mains under src/main is exactly the driver
  *     contract plus the spec-driven drivers: measurements go through
  *     Bench and perfbench/, never a new per-round harness main.
  */
class Round21Spec extends SparkSpec {

  test("Pin seam: reliable mode rows == default (local) mode rows") {
    import graft.util.Pin._
    val df = spark.range(100).select(col("id"),
      (col("id") % 7).as("k"))
    val local = df.pin().collect().toSet
    val dir = java.nio.file.Files.createTempDirectory("graft_pin_spec")
    try {
      spark.sparkContext.setCheckpointDir(dir.toString)
      spark.conf.set(graft.util.Pin.ModeConf, "reliable")
      val reliable = df.pin()
      assert(reliable.collect().toSet === local)
      // the knob really switched storage: a reliable checkpoint lands
      // files under the checkpoint dir; the local path never does
      val wrote = scala.util.Using.resource(
          java.nio.file.Files.walk(dir)) { w =>
        w.filter(java.nio.file.Files.isRegularFile(_)).count()
      }
      assert(wrote > 0, "reliable mode wrote nothing to the checkpoint dir")
    } finally {
      spark.conf.unset(graft.util.Pin.ModeConf)
      scala.util.Using.resource(java.nio.file.Files.walk(dir)) { w =>
        w.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
  }

  test("index build: fused pq_encode(v) == the retired productQuantize join") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val built = graft.ext.Similarity.buildIvfPqIndex(emb, 8, 4)
      .select("vec_id", "pq_code")
    val joined = graft.ext.Similarity.ivfAssignProbes(emb, 8, 4)
      .join(graft.ext.Similarity.productQuantize(emb)
        .select(col("vec_id"), col("pq_code")), Seq("vec_id"))
      .select("vec_id", "pq_code")
    assert(built.collect().toSet === joined.collect().toSet)
  }

  test("Par.run: branches all complete; failures rethrow unwrapped") {
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    graft.util.Par.run(
      () => { hits.incrementAndGet(); () },
      () => { hits.incrementAndGet(); () },
      () => { hits.incrementAndGet(); () })
    assert(hits.get === 3)
    val boom = intercept[IllegalStateException] {
      graft.util.Par.run(
        () => (),
        () => throw new IllegalStateException("branch failed"))
    }
    assert(boom.getMessage === "branch failed")
  }

  test("vector-store demo tiering: the one-trigger reduced bench depth " +
      "serves output identical to the full multi-epoch (and, for q259, " +
      "kill+restart) demonstration — q245 q253 q259") {
    // the Round17Spec reduced≡full discipline extended to the vector
    // stores (wave-2 tiering). EXPECTED LOG NOISE on q259's full leg:
    // the injected kill, as in Round15/17Spec.
    val dir = "/root/testdata/sf0.001"
    def run(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, dir)
        .collect().map(_.mkString("|")).toSeq
    for (name <- Seq("q245_stream_ann_search",
        "q253_compaction_policy_stream",
        "q259_store_restart_resume")) {
      assert(!graft.util.BenchMode.reducedDemos)
      val full = run(name)
      sys.props(graft.util.BenchMode.ReducedDemosProp) = "1"
      val reduced =
        try run(name)
        finally { sys.props.remove(graft.util.BenchMode.ReducedDemosProp); () }
      assert(reduced.nonEmpty && reduced == full,
        s"$name: reduced-demo output diverged from full depth " +
          s"(${reduced.size} vs ${full.size} rows)")
    }
  }

  test("fold_baseline: slow-day minima enter cal-normalized; fast day moves the stamp") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fold_spec")
    val benchDir = dir.resolve("bench")
    java.nio.file.Files.createDirectories(benchDir)
    def write(p: java.nio.file.Path, s: String) =
      java.nio.file.Files.write(p, s.getBytes("UTF-8"))
    // committed baseline: stamp 0.10, q1/q2 minima from its capture days
    write(benchDir.resolve("idle_baseline.json"),
      """{"note":"spec","cal_min":0.10,"queries":{"q1":1.000,"q2":5.000}}""")
    // run A: slow day (cal 0.20) — its minima must enter normalized to
    // the stamp, never raw (r20 verdict #9: raw slow-day minima are
    // ~cal x loose and weaken the retry shield for those queries)
    write(dir.resolve("runA.json"),
      """{"queries":{"q1":1.200,"q2":4.000},"cal_s":[0.20,0.25]}""")
    // run B: fast day (cal 0.05) — folds FIRST (ascending-cal order),
    // moves the stamp to 0.05, and its own entries fold raw
    // (min(cal_min, run_cal)/run_cal = 1 for the fastest day)
    write(dir.resolve("runB.json"),
      """{"queries":{"q1":0.900},"cal_s":[0.05]}""")
    val rc = new ProcessBuilder("python3",
        "/root/repo/tools/fold_baseline.py",
        dir.resolve("runA.json").toString,
        dir.resolve("runB.json").toString)
      .directory(dir.toFile).inheritIO().start().waitFor()
    assert(rc === 0, s"fold_baseline.py exited $rc")
    val out = new String(java.nio.file.Files.readAllBytes(
      benchDir.resolve("idle_baseline.json")), "UTF-8")
    def field(k: String): Double =
      ("\"" + k + "\"\\s*:\\s*([0-9.]+)").r.findFirstMatchIn(out)
        .map(_.group(1).toDouble)
        .getOrElse(fail(s"no $k in folded baseline: $out"))
    // fastest-day-first fold order: B (cal 0.05) folds first — q1 takes
    // its raw 0.900 and the stamp moves to 0.05; A (cal 0.20) then
    // normalizes by 0.05/0.20 = 0.25: q1 tightens to 1.200*0.25 = 0.300,
    // q2 to 4.000*0.25 = 1.000 — both expressed at the stamp's box speed
    assert(field("cal_min") === 0.05)
    assert(field("q1") === 0.3)
    assert(field("q2") === 1.0)
    scala.util.Using.resource(java.nio.file.Files.walk(dir)) { w =>
      w.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("src/main defines exactly the known mains (no per-round harness)") {
    // Bench/Verify/SmokeEntry are the driver contract, Plans/PlanProbes
    // dump plans, and the three *Driver objects are child JVMs the
    // store specs launch. A new measurement belongs in Bench or
    // perfbench/; adding a main here means editing this list on purpose.
    val expected = Set("Bench", "Verify", "SmokeEntry", "Plans",
      "PlanProbes", "CcServeDriver", "CcRestartDriver", "GenServeDriver")
    val objectDecl = """(?m)^\s*(?:private\S*\s+|case\s+)*object\s+(\w+)""".r
    val mainDecl = """\bdef\s+main\s*\(|\bextends\s+App\b""".r
    val files = scala.util.Using.resource(java.nio.file.Files
        .walk(java.nio.file.Paths.get("src/main"))) { w =>
      import scala.jdk.CollectionConverters._
      w.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    }
    assert(files.nonEmpty, "src/main not found from the working directory")
    val mains = files.flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      val objs = objectDecl.findAllMatchIn(src)
        .map(m => (m.start, m.group(1))).toList
      // each main belongs to the nearest object declared above it
      mainDecl.findAllMatchIn(src).map { m =>
        objs.takeWhile(_._1 < m.start).lastOption.map(_._2)
          .getOrElse(s"<no object> in $f")
      }
    }.toSet
    assert(mains == expected,
      s"unexpected: ${(mains -- expected).toSeq.sorted}; " +
        s"missing: ${(expected -- mains).toSeq.sorted}")
  }
}
