package graft.tools

import org.apache.spark.sql.SparkSession

/** A second JVM for the cross-process specs: the launching spec starts it
  * on this test JVM's classpath and module opens, and the child's `main`
  * builds its local session through [[session]]. */
object ChildJvm {

  /** The command line running `mainClass` with `args` under heap `xmx`. */
  def command(xmx: String, mainClass: String, args: String*): Seq[String] = {
    // the forked test JVM's own module opens are exactly what a Spark child needs
    val addOpens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString)
      .sliding(2).collect { case Array("--add-opens", v) =>
        Seq("--add-opens", v) }.toSeq.flatten
    Seq(System.getProperty("java.home") + "/bin/java") ++ addOpens ++
      Seq(s"-Xmx$xmx", "-cp", System.getProperty("java.class.path"), mainClass) ++ args
  }

  /** Run [[command]] to its exit: (exit code, stdout and stderr merged). */
  def run(xmx: String, mainClass: String, args: String*): (Int, String) = {
    val p = new ProcessBuilder(command(xmx, mainClass, args: _*): _*)
      .redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream, "UTF-8").mkString
    (p.waitFor(), out)
  }

  /** The child's local session, set up like the specs' own, logging only
    * errors; `conf` adds settings. */
  def session(app: String, conf: (String, String)*): SparkSession = {
    val b = SparkSession.builder().master("local[4]").appName(app)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
