package graft

import java.util.concurrent.CountDownLatch

import graft.util.Fixpoint

/** The session-global AQE scope must survive OVERLAPPING use: two
  * fixpoints on different threads both see AQE off inside their
  * bodies, and the LAST scope out restores the value the FIRST scope
  * in saw — no lost or doubly-restored conf (the round-19 race:
  * overlapping scopes each captured `prev` independently, so the
  * second could capture "false" and restore it permanently).
  */
class FixpointSpec extends SparkSpec {

  private val AqeKey = "spark.sql.adaptive.enabled"

  test("withoutAqe disables AQE in the body and restores after") {
    spark.conf.set(AqeKey, "true")
    Fixpoint.withoutAqe(spark) {
      assert(spark.conf.get(AqeKey) == "false")
    }
    assert(spark.conf.get(AqeKey) == "true")
  }

  test("nested scopes on one thread restore the outermost value") {
    spark.conf.set(AqeKey, "true")
    Fixpoint.withoutAqe(spark) {
      Fixpoint.withoutAqe(spark) {
        assert(spark.conf.get(AqeKey) == "false")
      }
      // inner exit must NOT restore yet — the outer scope is still open
      assert(spark.conf.get(AqeKey) == "false")
    }
    assert(spark.conf.get(AqeKey) == "true")
  }

  test("two concurrent fixpoints restore AQE correctly") {
    spark.conf.set(AqeKey, "true")
    val bothInside = new CountDownLatch(2)
    val firstDone = new CountDownLatch(1)
    val insideValues =
      new java.util.concurrent.ConcurrentLinkedQueue[String]()

    val t1 = new Thread(() => Fixpoint.withoutAqe(spark) {
      insideValues.add(spark.conf.get(AqeKey))
      bothInside.countDown()
      bothInside.await() // guarantee the scopes overlap
    })
    val t2 = new Thread(() => Fixpoint.withoutAqe(spark) {
      insideValues.add(spark.conf.get(AqeKey))
      bothInside.countDown()
      bothInside.await()
      firstDone.await() // t2 exits strictly after t1 has restored
    })
    t1.start(); t2.start()
    t1.join(30000)
    // t1 exited but t2's scope is still open: AQE must STAY off
    assert(spark.conf.get(AqeKey) == "false",
      "first scope's exit must not restore while the second is open")
    firstDone.countDown()
    t2.join(30000)
    assert(insideValues.size == 2)
    insideValues.forEach(v => assert(v == "false"))
    assert(spark.conf.get(AqeKey) == "true",
      "last scope out must restore the pre-scope value")
  }

  test("loopPartitions sizes to the state and clamps to the session") {
    val sessionParts =
      spark.conf.get("spark.sql.shuffle.partitions").toInt // 4 in tests
    assert(Fixpoint.loopPartitions(spark, 0L) == 1)
    assert(Fixpoint.loopPartitions(spark, 1L) == 1)
    assert(Fixpoint.loopPartitions(spark, 65536L) == 1)
    assert(Fixpoint.loopPartitions(spark, 65537L) == 2)
    // a corpus-sized state never loses the session's parallelism
    assert(Fixpoint.loopPartitions(spark, 100L * 1000 * 1000) ==
      sessionParts)
    // the rows-per-partition knob is a conf
    spark.conf.set("spark.graft.fixpoint.rowsPerPartition", "10")
    try assert(Fixpoint.loopPartitions(spark, 25L) == 3)
    finally spark.conf.unset("spark.graft.fixpoint.rowsPerPartition")
  }

  test("withLoopPartitions scopes and restores the partition conf") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    Fixpoint.withLoopPartitions(spark, 10L) {
      assert(spark.conf.get(key) == "1")
    }
    assert(spark.conf.get(key) == before)
  }

  test("a key with no value before the scope is unset again after it") {
    val key = "spark.graft.test.unsetBeforeScope"
    spark.conf.unset(key)
    Fixpoint.withConf(spark, key, "x") {
      Fixpoint.withConf(spark, key, "y") {
        assert(spark.conf.get(key) == "y")
      }
      assert(spark.conf.get(key) == "x")
    }
    // unset, not "": a later lookup with a default still sees the default
    assert(spark.conf.getOption(key).isEmpty)
    assert(spark.conf.get(key, "dflt") == "dflt")
  }

  test("scope under an already-off session leaves conf untouched") {
    spark.conf.set(AqeKey, "false")
    try {
      Fixpoint.withoutAqe(spark) {
        assert(spark.conf.get(AqeKey) == "false")
      }
      assert(spark.conf.get(AqeKey) == "false")
    } finally spark.conf.set(AqeKey, "true")
  }

  test("only util/Fixpoint.scala checkpoints") {
    // every loop's generations, and every one-shot lineage cut, go
    // through the fixpoint driver: a checkpoint call anywhere else is a
    // hand-rolled loop growing back
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"no sources at $root")
    val files = {
      val w = java.nio.file.Files.walk(root)
      try w.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      finally w.close()
    }
    val call = """\.(localCheckpoint|checkpoint)\(""".r
    val calls = for {
      f <- files if !f.endsWith(java.nio.file.Paths.get("graft/util/Fixpoint.scala"))
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      code = line.trim
      if !code.startsWith("*") && !code.startsWith("/*")
      if call.findFirstIn(code.split("//", 2)(0)).isDefined
    } yield s"$f:${i + 1}: $code"
    assert(files.size > 50)
    assert(calls.isEmpty, calls.mkString("\n"))
  }
}
