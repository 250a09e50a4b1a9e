package graft

/** Dev tool: time one query and optionally print its formatted plan.
  * Usage: runMain graft.QDebug <name> [sfDir] [explain] [dump]
  * `dump` writes the result + this key's oracle SQL to /tmp/qdump so
  * `tools/check_oracle.py <sfDir> /tmp/qdump` gates ONE key locally. */
object QDebug {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    if (name == "__list__") {
      val q = SparkEntry.queries.keySet; val o = SparkEntry.oracleSql.keySet
      println(s"[qdebug] keys=${q.size} oracle=${o.size} qOnly=${(q -- o).toSeq.sorted.mkString(",")} oOnly=${(o -- q).toSeq.sorted.mkString(",")}")
      return
    }
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    if (name == "__nnbuild__") {
      val s = DevSession()
      Tables.register(s, sfDir)
      val df = s.sql(new graft.sqlgen.Gen(graft.sqlgen.SparkDialect).nnDeepLogitsBuildSql)
      println(df.queryExecution.executedPlan.toString.linesIterator
        .filter(l => l.contains("Exchange") || l.contains("WholeStageCodegen") || l.contains("Project ["))
        .map(_.take(120)).mkString("\n"))
      s.stop(); return
    }
    val spark = DevSession()
    // comma-separated names share one warm JVM/session — the shape a
    // targeted drift adjudication needs (three timed counts per key,
    // the first is the cold/codegen touch)
    val names = name.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val dumped = Seq.newBuilder[String]
    for (nm <- names) {
      val df = SparkEntry.queries(nm)(spark, sfDir)
      if (args.contains("explain")) df.explain("formatted")
      var t0 = System.nanoTime()
      println(s"[qdebug] $nm count=${df.count()} first=${(System.nanoTime() - t0) / 1e9}s")
      t0 = System.nanoTime()
      println(s"[qdebug] $nm count=${df.count()} second=${(System.nanoTime() - t0) / 1e9}s")
      t0 = System.nanoTime()
      println(s"[qdebug] $nm count=${df.count()} third=${(System.nanoTime() - t0) / 1e9}s")
      if (args.contains("dump")) {
        df.repartition(1).write.mode("overwrite").parquet(s"/tmp/qdump/$nm")
        val esc = SparkEntry.oracleSql(nm)
          .replace("\\", "\\\\").replace("\"", "\\\"")
          .replace("\n", "\\n").replace("\t", "\\t")
        dumped += s""""$nm": "$esc""""
      }
    }
    if (args.contains("dump"))
      java.nio.file.Files.write(java.nio.file.Paths.get("/tmp/qdump/oracle_sql.json"),
        dumped.result().mkString("{", ", ", "}").getBytes("UTF-8"))
    spark.stop()
  }
}
