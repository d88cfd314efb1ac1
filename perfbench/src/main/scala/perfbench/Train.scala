package perfbench

import java.nio.file.{Files, Paths}

/** Runs one operation of every workload in one JVM. The build runs it once
  * with `-XX:ArchiveClassesAtExit`, so that every benchmark JVM starts from
  * a class-data archive of the classes the workloads load.
  */
object Train {
  def main(argv: Array[String]): Unit = {
    val args = Main.parseArgs(argv)
    val work = Paths.get(args("work"))
    val (inputs, expected, sfDir, pins) = Main.loadInputs(args)
    Files.createDirectories(work)
    val spark = Main.session(args("cores").toInt, work)
    val ctx = new Ctx(spark, new Tracer(true), SparkCounters.register(spark), inputs, expected, pins, sfDir, work)
    Workloads.names.zipWithIndex.foreach { case (name, i) =>
      ctx.tracer.beginOp(i)
      val r = Workloads(name, ctx).op(i)
      if (r.errors.nonEmpty) sys.error(s"$name: ${r.errors.mkString("; ")}")
    }
    Main.stop(spark)
  }
}
