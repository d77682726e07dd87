package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.Streams
import graft.util.{Dirs, Pin}

/** [[graft.util.Pin.scope]]: what a scope releases (everything it recorded
  * but its result's pins, on a throw too) and what it leaves alone (pins
  * it never recorded); the CC store's step releasing every pin when it
  * dies mid-epoch; and the store in reliable mode keeping no checkpoint
  * file between epochs.
  */
class PinScopeSpec extends SparkSpec {
  import spark.implicits._

  private val Dir = "/root/testdata/sf0.001"

  private def frame(n: Int): DataFrame = spark.range(n).toDF("id")

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("a scope frees what it recorded except its result's pins, frees " +
      "everything on a throw, and never frees a pin it did not record") {
    import graft.util.Pin._
    // held: the registry keeps entries by weak reference
    val held = spark.sparkContext.getPersistentRDDs
    val outside = frame(5).pin()
    val before = persisted
    val (kept, early) = Pin.scope { pins =>
      val a = pins(frame(10))
      val b = pins(a.filter(col("id") > 2))
      pins.release(a)
      val early = persisted -- before
      pins(frame(3))
      (b.join(outside, "id"), early)
    }
    assert(early.size == 1, s"release left ${early.size} pins, want 1")
    assert(kept.count() == 2)
    assert(before.subsetOf(persisted) && (persisted -- before).size == 1,
      "the scope kept more than its result's pin, or freed an unrecorded one")
    val preAdopt = persisted
    val adopted = frame(7).pin()
    intercept[IllegalStateException](Pin.scope { pins =>
      graft.util.Par.run(() => { pins(frame(4)); () },
        () => { pins(frame(6)); () })
      pins.adopt(adopted)
      pins(outside.filter(col("id") > 1))
      throw new IllegalStateException("boom")
    })
    assert(persisted == preAdopt, "a throwing scope kept a pin it recorded " +
      "or freed one it did not")
    Pin.release(kept)
    java.lang.ref.Reference.reachabilityFence(held)
  }

  /** Init the v2 store at `root` from the corpus but its batch docs
    * (doc_id % 5 = 0, the Round16Spec split); returns the batch docs.
    */
  private def initStore(root: String): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, Dir)
    val isNew = col("doc_id") % 5 === 0
    Streams.ccStoreInit(docs.filter(!isNew), s"$root/state")
    docs.filter(isNew).select("doc_id", "text")
  }

  test("a ccStoreStep that dies mid-epoch, in its onEpochPairs hook or at " +
      "the injected kill, leaves no pin behind") {
    val root = java.nio.file.Files.createTempDirectory("graft_pin_step")
      .toString
    try {
      val batch = initStore(root)
      // held: the registry keeps entries by weak reference
      val held = spark.sparkContext.getPersistentRDDs
      val e = intercept[IllegalStateException](
        Streams.ccStoreStep(s"$root/state", onEpochPairs = (_, _) =>
          throw new IllegalStateException("hook failed"))(batch, 0))
      assert(e.getMessage == "hook failed")
      assert(spark.sparkContext.getPersistentRDDs.keySet == held.keySet,
        "the failed step left its pins behind")
      val k = intercept[IllegalStateException](
        Streams.ccStoreStep(s"$root/state", killOnceAt =
          Some((0L, new java.util.concurrent.atomic.AtomicBoolean(true))))(
          batch, 0))
      assert(k.getMessage.startsWith("injected kill"))
      assert(spark.sparkContext.getPersistentRDDs.keySet == held.keySet,
        "the killed step left its pins behind")
      java.lang.ref.Reference.reachabilityFence(held)
    } finally Dirs.rmTree(root)
  }

  /** ccStoreInit plus 4 folding ccStoreStep epochs at `root`, calling
    * `after` once after init and once after each epoch; returns the
    * store's labels.
    */
  private def runStore(root: String, after: String => Unit,
      during: => Unit = ()): Seq[(Long, Long)] = {
    val batch = initStore(root)
    after("init")
    for (e <- 0 until 4) {
      Streams.ccStoreStep(s"$root/state", maxLabelDeltas = 1,
          maxPostingGens = 0, onEpochPairs = (_, _) => during)(
        batch.filter(col("doc_id") % 20 === e * 5), e)
      after(s"epoch $e")
    }
    Streams.ccStoreLabels(spark, s"$root/state").as[(Long, Long)]
      .collect().sorted.toSeq
  }

  test("reliable mode: the CC store's checkpoint dir holds no pin after " +
      "init or after any epoch, and its labels equal local mode's") {
    val rootL = java.nio.file.Files.createTempDirectory("graft_pin_local")
      .toString
    val rootR = java.nio.file.Files.createTempDirectory("graft_pin_rel")
      .toString
    try {
      val local = runStore(rootL, _ => ())
      var pinnedDuring = Seq.empty[Int]
      val reliable = inReliableMode { dir =>
        runStore(rootR, { at =>
            val left = checkpointEntries(dir)
            assert(left.isEmpty, s"after $at the checkpoint dir holds " +
              s"${left.size} entries: ${left.mkString(", ")}")
          }, pinnedDuring :+= checkpointEntries(dir).size)
      }
      assert(pinnedDuring.size == 4 && pinnedDuring.forall(_ > 0),
        s"the steps did not pin to the checkpoint dir: $pinnedDuring")
      assert(local.nonEmpty && reliable == local,
        s"reliable-mode labels diverged (${reliable.size} vs ${local.size})")
    } finally { Dirs.rmTree(rootL); Dirs.rmTree(rootR) }
  }
}
