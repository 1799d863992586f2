package graft

import org.apache.spark.sql.SparkSession

import graft.control.{ControlPlane, RotatingTextLogger}

/** CLI entry point — runner/pipeline_runner.py:492-542 parity: the
  * reference's primary UX is
  * `pipeline_runner --pipeline_name {customers,products,stores,sales}
  * [--dry-run]`, with argparse-style validation (bad input prints the
  * usage and exits 1). This main resolves the named pipeline from the
  * ControlPlane metadata, validates it is registered and active,
  * executes its tables in load order via [[Pipeline]], and exits
  * nonzero on any gate failure.
  *
  * Extra flags (Spark-native additions): `--data <sf_dir>` the source
  * corpus dir, `--warehouse <dir>` and `--logs <dir>` output dirs.
  */
object Run {

  private val Names = Seq("customers", "products", "stores", "sales")
  private val Usage =
    s"""usage: graft_etl --pipeline_name {${Names.mkString(", ")}} [--dry-run]
       |                 [--data <sf_dir>] [--warehouse <dir>] [--logs <dir>]
       |
       |  --pipeline_name, -p   Pipeline name
       |  --dry-run, -d         validate config + connectivity only
       |  --data                source corpus dir (default $$SPARK_GRAFT_SF_DIR
       |                        or /root/testdata/sf0.001)
       |  --warehouse           warehouse output dir (default ./warehouse)
       |  --logs                run/stage + text log dir (default ./logs)""".stripMargin

  private case class Args(pipeline: Option[String] = None,
                          dryRun: Boolean = false,
                          data: String = sys.env.getOrElse(
                            "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"),
                          warehouse: String = "warehouse",
                          logs: String = "logs")

  /** Argparse-style parse: unknown flags, missing values, or a
    * pipeline name outside the choice list -> usage + None. */
  private def parse(argv: Seq[String]): Option[Args] = {
    @annotation.tailrec
    def loop(rest: List[String], acc: Args): Option[Args] = rest match {
      case Nil => Some(acc)
      case ("--pipeline_name" | "-p") :: v :: tail if Names.contains(v) =>
        loop(tail, acc.copy(pipeline = Some(v)))
      case ("--pipeline_name" | "-p") :: _ => None
      case ("--dry-run" | "-d") :: tail => loop(tail, acc.copy(dryRun = true))
      case "--data" :: v :: tail => loop(tail, acc.copy(data = v))
      case "--warehouse" :: v :: tail => loop(tail, acc.copy(warehouse = v))
      case "--logs" :: v :: tail => loop(tail, acc.copy(logs = v))
      case _ => None
    }
    loop(argv.toList, Args())
  }

  def main(args: Array[String]): Unit = sys.exit(run(args.toSeq))

  /** Parse + execute, returning the process exit code (0 success, 1 bad
    * input / inactive pipeline / gate failure) — separate from main so
    * specs can drive the full CLI path in-process. */
  def run(argv: Seq[String],
          sessionBuilder: () => SparkSession =
            () => Session.create("WARN")): Int =
    parse(argv) match {
      case None | Some(Args(None, _, _, _, _)) =>
        System.err.println("Incorrect user input provided.")
        System.err.println(Usage)
        1
      case Some(a) =>
        val name = a.pipeline.get
        val pipelineName = s"${name}_pipeline"
        val text = new RotatingTextLogger(a.logs)
        val md = new ControlPlane.MetadataStore()
        val runId = java.util.UUID.randomUUID().toString
        text.info(runId, pipelineName, "runner", "Pipeline invocation started")
        // validate against the control plane: registered AND active
        md.getPipeline(pipelineName).filter(_.is_active) match {
          case None =>
            text.error(runId, pipelineName, "runner",
              s"pipeline $pipelineName not registered or inactive")
            System.err.println(s"pipeline $pipelineName not registered or inactive")
            1
          case Some(_) =>
            val tables = md.listTablesForPipeline(pipelineName)
            text.info(runId, pipelineName, "runner",
              s"load order: ${tables.map(_._1.table_name).mkString(" -> ")}")
            if (a.dryRun) {
              // validate config + source connectivity only
              val ok = java.nio.file.Files.isDirectory(
                java.nio.file.Paths.get(a.data))
              text.info(runId, pipelineName, "runner",
                s"dry-run: data dir ${a.data} ${if (ok) "ok" else "MISSING"}")
              if (ok) 0 else 1
            } else execute(name, pipelineName, runId, a, text, sessionBuilder)
        }
    }

  private def execute(name: String, pipelineName: String, runId: String,
                      a: Args, text: RotatingTextLogger,
                      sessionBuilder: () => SparkSession): Int = {
    try {
      val path = graft.registry.PipelineQueries.runTable(sessionBuilder(),
        a.data, name, a.warehouse, a.logs)
      text.info(runId, pipelineName, "runner", s"pipeline SUCCESS -> $path")
      0
    } catch {
      case e: graft.ops.DataQualityException =>
        text.error(runId, pipelineName, "runner", s"gate FAILED: ${e.getMessage}")
        System.err.println(s"gate FAILED: ${e.getMessage}")
        1
      case scala.util.control.NonFatal(e) =>
        text.error(runId, pipelineName, "runner", s"pipeline FAILED: $e")
        System.err.println(s"pipeline FAILED: $e")
        1
    }
  }
}
