package graft

import org.apache.spark.sql.functions._

/** Round-21 optimization pins:
  *   - the Pin seam (r20 verdict #8): `.pin()` in reliable mode produces
  *     the same rows as the default localCheckpoint mode, the mode knob
  *     actually switches the storage path, releasing a reliable pin
  *     deletes its files, and nothing under src/main checkpoints around
  *     Pin;
  *   - the index-build pq fusion: pq_encode over the carried double
  *     vector ≡ the retired productQuantize join, row for row;
  *   - Par.run: all branches complete before return, failures rethrow
  *     unwrapped;
  *   - fold_baseline.py's cal-consistent fold math (r20 verdict #9): a
  *     slow-day run's minima enter normalized to the stamp, a fast-day
  *     run moves the stamp and its own entries fold raw;
  *   - the set of runnable mains under src/main is exactly the driver
  *     contract plus the spec-driven drivers: measurements go through
  *     Bench and perfbench/, never a new per-round harness main;
  *   - one owner per seam, by source scan: checkpoints only in Pin,
  *     delta-epoch listings (the fold-lag rule) only in GenStore, tree
  *     deletes only in Dirs, stream starts only through Streams.start.
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
      // ...and releasing the pin deletes them
      graft.util.Pin.release(reliable)
      assert(checkpointEntries(dir).isEmpty,
        s"released reliable pin kept ${checkpointEntries(dir)}")
    } finally {
      spark.conf.unset(graft.util.Pin.ModeConf)
      graft.util.Dirs.rmTree(dir.toString)
    }
  }

  test("index build: fused pq_encode(v) == the retired productQuantize join") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val built = graft.ext.Similarity.buildIvfPqIndexWith(emb,
        graft.ext.Similarity.ivfCentroids(emb, 8), 4)
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
    for (name <- Seq("q245_stream_ann_search",
        "q253_compaction_policy_stream",
        "q259_store_restart_resume"))
      assertBenchDepthMatchesFull(name, "/root/testdata/sf0.001")
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
    graft.util.Dirs.rmTree(dir.toString)
  }

  /** Every `.scala` file under src/main, with its text. */
  private def mainSources: List[(java.nio.file.Path, String)] = {
    val files = scala.util.Using.resource(java.nio.file.Files
        .walk(java.nio.file.Paths.get("src/main"))) { w =>
      import scala.jdk.CollectionConverters._
      w.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    }
    assert(files.nonEmpty, "src/main not found from the working directory")
    files.map(f =>
      (f, new String(java.nio.file.Files.readAllBytes(f), "UTF-8")))
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
    val mains = mainSources.flatMap { case (f, src) =>
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

  test("src/main writes no JVM system property: run depth and modes are " +
      "explicit values, not process-global switches") {
    // a system property is JVM-wide mutable state: a write by one query
    // or main is seen by every session and suite in the process. Reading
    // one (java.io.tmpdir) is fine.
    val write = Seq("""\bsys\.props\s*\([^)]*\)\s*=(?!=)""",
      """\bsys\.props\s*(?:\+=|-=|\.(?:put|update|addOne|remove|clear)\b)""",
      """\bSystem\.(?:setProperty|clearProperty|setProperties)\b""")
      .mkString("|").r
    val hits = mainSources.flatMap { case (f, src) =>
      src.linesIterator.zipWithIndex.collect {
        case (l, i) if write.findFirstIn(l).isDefined =>
          s"$f:${i + 1}: ${l.trim}"
      }
    }
    assert(hits.isEmpty, hits.mkString("system property writes:\n", "\n", ""))
  }

  /** `file:line: text` of every src/main line matching `call`, outside
    * the one file allowed to hold it.
    */
  private def callsOutside(call: scala.util.matching.Regex,
      owner: String): List[String] = mainSources.flatMap { case (f, src) =>
    if (f.getFileName.toString == owner) Nil
    else src.linesIterator.zipWithIndex.collect {
      case (l, i) if call.findFirstIn(l).isDefined => s"$f:${i + 1}: ${l.trim}"
    }
  }

  test("src/main pins only through graft.util.Pin: no checkpoint call " +
      "outside it") {
    // Pin decides the storage and owns the release; a checkpoint made
    // around it would pick its own storage, and no scope would free it
    val hits = callsOutside("""\blocalCheckpoint\(|\.checkpoint\(""".r,
      "Pin.scala")
    assert(hits.isEmpty, hits.mkString("checkpoints outside Pin:\n", "\n", ""))
  }

  test("src/main folds only through GenStore.foldIfDue: no delta-epoch " +
      "arithmetic outside GenStore") {
    // the fold-lag rule (fold point E-1, skip once a complete base is
    // there) lives in GenStore; a caller listing delta epochs itself is
    // writing the rule out again
    val hits = callsOutside("""completeDeltaEpochs\(""".r, "GenStore.scala")
    assert(hits.isEmpty, hits.mkString("delta-epoch listings outside " +
      "GenStore:\n", "\n", ""))
  }

  test("src/main deletes directory trees only through Dirs.rmTree") {
    // Dirs.rmTree is the walk + reverse-order delete, and a missing root
    // is a no-op there instead of a throw from a finally
    val hits = callsOutside("""Comparator\.reverseOrder""".r, "Dirs.scala")
    assert(hits.isEmpty, hits.mkString("tree deletes outside Dirs:\n",
      "\n", ""))
  }

  test("src/main starts every streaming query through Streams.start") {
    // Streams.start names the session's checkpoint file manager before the
    // query starts; a query started around it would write its offset and
    // commit logs through whichever manager the session happened to have.
    // `Streams.start(` itself and the bare `start(` calls inside Streams
    // do not match; the helper's own `.start()` is the one allowed hit.
    val starts = """(?<!\bStreams)\.(?:start|toTable)\s*\(""".r
    val hits = mainSources.flatMap { case (f, src) =>
      val helper =
        if (f.getFileName.toString != "Streams.scala") 0 until 0
        else {
          val at = src.indexOf("  def start[")
          if (at < 0) 0 until 0 else at until src.indexOf("\n  }\n", at)
        }
      starts.findAllMatchIn(src).filterNot(m => helper.contains(m.start)).map { m =>
        val line = src.substring(0, m.start).count(_ == '\n')
        s"$f:${line + 1}: ${src.linesIterator.drop(line).next().trim}"
      }
    }
    assert(hits.isEmpty, hits.mkString("streaming starts outside Streams.start:\n", "\n", ""))
    val helper = mainSources.collect {
      case (f, src) if f.getFileName.toString == "Streams.scala" => src }.mkString
    assert(helper.contains("sink(ds.writeStream).start()"), "Streams.start not found")
  }
}
