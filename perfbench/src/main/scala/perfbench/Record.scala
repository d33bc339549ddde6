package perfbench

import java.nio.file.Files

/** Records the reference values `expected.json` holds, from the program
  * as it is: `record suite` prints every SparkEntry query's row count,
  * `record digests <first-seed> <last-seed>` prints the `batch_dense`
  * output digest per seed. Run it with the benchmark's classpath:
  *
  *   java <the options run.py passes> -cp "$(python3 -c 'import json;print(json.load(open("perfbench/target/perfbench.classpath"))["classpath"])')" \
  *     perfbench.Record suite --work perfbench/work/record
  */
object Record {
  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val work = java.nio.file.Paths.get(argv.sliding(2).collectFirst {
      case Array("--work", w) => w
    }.getOrElse("perfbench/work/record")).toAbsolutePath
    Files.createDirectories(work)
    val rest = argv.takeWhile(_ != "--work")
    val cpus = Runtime.getRuntime.availableProcessors()
    rest.toSeq match {
      case Seq("suite") =>
        val a = Args("query_suite", 0, 0, trace = false, cpus, work)
        val spark = Session.start(a, graft.sink.BucketedMirror.withSessionConfs)
        val dir = java.nio.file.Paths.get(sys.props.getOrElse("perfbench.home", "perfbench"),
          "data", "sf0.001").toAbsolutePath.toString
        val rows = graft.SparkEntry.queries.keys.toSeq.sorted.map { q =>
          q -> graft.SparkEntry.queries(q)(spark, dir).count()
        }
        println(rows.map { case (q, n) => s"""  "$q": $n""" }.mkString("{\n", ",\n", "\n}"))
        Session.stop(spark)
      case Seq("digests", from, to) =>
        val a = Args("batch_dense", 0, 0, trace = false, cpus, work)
        val spark = Session.start(a)
        val ds = (from.toLong to to.toLong).map { seed =>
          val in = OwmGen.writeBatch(seed, BatchBench.Shape, Fs.fresh(work.resolve("raw")))
          val out = Fs.fresh(work.resolve("out"))
          graft.Pipeline.run(spark, graft.Pipeline.Config(in.dir.toString,
            out.resolve("processed").toString, out.resolve("output").toString))
          seed -> Digest.hex(BatchBench.inspect(spark, out).digest)
        }
        println(ds.map { case (s, d) => s"""  "$s": "$d"""" }.mkString("{\n", ",\n", "\n}"))
        Session.stop(spark)
      case other => throw new IllegalArgumentException(s"usage: record suite | record digests <from> <to>; got $other")
    }
  }
}
