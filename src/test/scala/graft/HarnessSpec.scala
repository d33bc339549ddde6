package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.functions.{broadcast, sum}
import org.apache.spark.sql.graft.ListenerBus
import scala.collection.mutable

class HarnessSpec extends SparkTestBase {

  /** stderr lines printed while `f` runs. */
  private def stderrOf(f: => Unit): String = {
    val buf = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    try f finally System.setErr(saved)
    buf.toString("UTF-8")
  }

  test("bestOf: a rep that throws fast is not kept as the best time") {
    var rep = 0
    val failures = mutable.Buffer[Throwable]()
    val best = Harness.bestOf(3, failures += _) {
      rep += 1
      if (rep != 2) throw new IllegalStateException(s"rep $rep")
      Thread.sleep(50)
    }
    assert(rep == 3)
    assert(failures.map(_.getMessage) == Seq("rep 1", "rep 3"))
    assert(best.exists(_ >= 0.05), best)
    // the default handler rethrows: a probe fails loudly
    intercept[IllegalStateException](Harness.bestOf(2)(throw new IllegalStateException("boom")))
  }

  test("Bench: an all-fail query gives -1, is reported per rep, and counts in n_failed") {
    var t = 0.0
    val err = stderrOf { t = Bench.time("qx", 2)(throw new ArithmeticException("nope")) }
    assert(t == -1.0)
    assert(err.linesIterator.count(_ == "[Bench] qx failed: ArithmeticException: nope") == 2)
    assert(Bench.json(Seq("qx" -> -1.0, "qy" -> 0.25), "sf0.01", 2).contains("\"n_failed\":1,"))
  }

  test("Bench: the JSON line matches its golden form, with Locale.ROOT decimals") {
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    val line =
      try Bench.json(Seq("a1" -> 0.5274, "q2" -> -1.0, "z9" -> 12.0), "sf0.1", 3)
      finally java.util.Locale.setDefault(saved)
    assert(line ==
      """{"queries":{"a1":0.527,"q2":-1.000,"z9":12.000},"sf":"sf0.1","best_of":3,""" +
      """"n_queries":3,"n_failed":1,"metric":"total","unit":"sec","value":12.527}""")
  }

  test("select: every unknown name warns; no names selects the whole registry") {
    val registry = Map("a1" -> 1, "b2" -> 2, "c3" -> 3)
    var picked: Map[String, Int] = null
    val err = stderrOf { picked = Harness.select(Seq("b2", "b22", "zz"), registry, "Spec") }
    assert(picked == Map("b2" -> 2))
    assert(err.linesIterator.filter(_.startsWith("[Spec]")).toSeq ==
      Seq("[Spec] unknown query: b22", "[Spec] unknown query: zz"))
    assert(Harness.select(Nil, registry, "Spec") == registry)
  }

  test("ledger: the measured lap after an unprofiled warm lap reports exactly its own jobs and shuffle bytes") {
    val sc = spark.sparkContext
    // a fresh listener that sorts every job into the lap it was started
    // in, by a local property independent of the ledger's job group
    val lapKey = "graft.spec.lap"
    val fresh = new SparkListener {
      val jobs = mutable.Map[String, Int]().withDefaultValue(0)
      val stageLap = mutable.Map[Int, String]()
      val stages = mutable.Map[String, Int]().withDefaultValue(0)
      val shuffle = mutable.Map[String, (Long, Long)]().withDefaultValue((0L, 0L))
      private val seen = mutable.Set[(Int, Int)]()
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        val lap = Option(e.properties.getProperty(lapKey)).getOrElse("none")
        jobs(lap) += 1
        e.stageIds.foreach(stageLap.getOrElseUpdate(_, lap))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
        val i = e.stageInfo
        if (seen.add((i.stageId, i.attemptNumber()))) {
          val lap = stageLap.getOrElse(i.stageId, "none")
          stages(lap) += 1
          val (w, r) = shuffle(lap)
          shuffle(lap) = (w + i.taskMetrics.shuffleWriteMetrics.bytesWritten,
            r + i.taskMetrics.shuffleReadMetrics.totalBytesRead)
        }
      }
    }
    sc.addSparkListener(fresh)
    // a shuffle aggregate over a broadcast join: the broadcast's job runs
    // on another thread and must still count in its lap
    def lap(): Long = {
      val facts = spark.range(0, 200000, 1, 4).selectExpr("id % 101 AS k", "id AS v")
      val dim = spark.range(0, 50).selectExpr("id AS k", "id % 7 AS g")
      facts.join(broadcast(dim), "k").groupBy("g").agg(sum("v")).count()
    }
    try {
      sc.setLocalProperty(lapKey, "warm")
      lap() // unprofiled, and not drained: its late events are still queued
      sc.setLocalProperty(lapKey, "measured")
      val p = Harness.profile(spark, "spec")(lap())
      sc.setLocalProperty(lapKey, null)
      ListenerBus.drain(sc)
      fresh.synchronized {
        assert(p.rows == 7)
        assert(fresh.jobs("measured") >= 2, fresh.jobs) // the broadcast and the aggregate
        assert(p.jobs.size == fresh.jobs("measured"))
        assert(p.stages == fresh.stages("measured"))
        assert(p.shuffleWrite > 0)
        assert((p.shuffleWrite, p.shuffleRead) == fresh.shuffle("measured"))
      }
      assert(p.tasks >= p.stages)
      assert(p.jobs.forall(j => j.end >= j.start))
      // every job is named after the program's call site, none after the
      // thread pool AQE and broadcasts run their jobs on
      assert(p.jobs.forall(j => !j.site.contains("CompletableFuture")), p.jobs)
      assert(p.jobs.forall(_.site.contains("HarnessSpec.scala")), p.jobs)
      // ... followed by the operator its final stage runs: the broadcast
      // job and the aggregate's shuffle-map job say which they are
      assert(p.jobs.forall(_.site.matches(""".* at HarnessSpec\.scala:\d+ \[.+\]""")), p.jobs)
      assert(p.jobs.exists(_.site.endsWith(" [BroadcastExchange]")), p.jobs)
      assert(p.jobs.exists(_.site.endsWith(" [Exchange]")), p.jobs)
      assert(p.gapS >= 0 && p.gapS <= p.wallS, p)
      assert(p.phases.map(_._1).contains("planning"), p.phases)
    } finally {
      sc.setLocalProperty(lapKey, null)
      sc.removeSparkListener(fresh)
    }
  }

  test("the test session stays local[4] whatever SPARK_GRAFT_CPUS says") {
    // the project's test command exports SPARK_GRAFT_CPUS=nproc; the mains
    // read it, the specs' session must not
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }
}
