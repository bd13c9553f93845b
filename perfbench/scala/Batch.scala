package graftbench

import java.io.File

import graft.SparkEntry

/** batch_heavy: one driver thread runs the heaviest `SparkEntry.queries`
  * rows over the seeded generated tables, each materialized
  * through Spark's `noop` sink so every output column is computed.
  * batch_minhash runs `dedup_minhash_lsh` the same way; it is kept apart
  * because its answer check fails at HEAD (see perfbench/README.md). */
object Batch {
  val HeavyRows: Seq[String] = Seq("graph_triangles", "pipeline_train_prep",
    "pipeline_curate", "dedup_jaccard_pairs", "tpch_q9")
  val MinhashRows: Seq[String] = Seq("dedup_minhash_lsh")
  val WarmThreads = 3

  def run(ctx: Ctx, rowNames: Seq[String]): Unit = {
    val spark = ctx.spark
    // the generated tables, already in their seeded row order and file
    // split; the rows only read them
    val dir = ctx.input("tables").getAbsolutePath
    val results = ctx.dir("batch/results")
    val rowsOut = scala.collection.concurrent.TrieMap.empty[String, Long]
    // untimed first pass: each row's full result is written once for the
    // DuckDB oracle (perfbench/oracle.py), which also warms the JIT; the
    // rows run side by side, as the first pass is mostly compilation
    ctx.setupStep("warm_s") {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(WarmThreads)
      try rowNames.map { name =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val out = new File(results, name).getPath
            ctx.rec.timed("warm", "row", name)(
              SparkEntry.queries(name)(spark, dir).coalesce(1)
                .write.parquet(out)) { _ =>
              val n = spark.read.parquet(out).count()
              rowsOut(name) = n
              n
            }
          }
        })
      }.foreach(_.get()) finally pool.shutdown()
    }
    ctx.rec.put("data_dir", dir)
    ctx.rec.put("results_dir", results.getAbsolutePath)
    ctx.rec.put("oracle_sql", rowNames.map(n =>
      n -> SparkEntry.oracleSql.getOrElse(n, null)).toMap)

    // whole passes over the rows: at least one, and another only while
    // it is expected to end by the deadline (the last pass's length)
    val start = ctx.mark("timed.start")
    val deadline = start + ctx.args.seconds * 1000000000L
    var pass = 0
    var last = 0L
    while (pass == 0 || System.nanoTime() + last <= deadline) {
      val p0 = System.nanoTime()
      rowNames.foreach { name =>
        ctx.group(s"row/$name/$pass")
        ctx.rec.timed("timed", "row", name)(
          SparkEntry.queries(name)(spark, dir).write.format("noop")
            .mode("overwrite").save())(_ => rowsOut.getOrElse(name,
            throw new AssertionError(s"$name has no checked first pass")))
      }
      last = System.nanoTime() - p0
      pass += 1
    }
    ctx.group(null)
    ctx.mark("timed.end")
  }
}
