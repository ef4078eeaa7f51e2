package graft.tools

/** Print the plan of one `SparkEntry.queries` query: `ExplainQ <query> <sfDir> [formatted]`.
  * Default: the optimized logical plan (compact). "formatted": the full
  * physical plan in explain("formatted") form — the plans/rNN file
  * format (r22). Fails loudly: when the query throws or the plan text is
  * empty it prints nothing to stdout, writes the reason to stderr and
  * exits 1, so a redirected capture never lands as an empty file that
  * looks like a plan. */
object ExplainQ {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.builder("8", "8", rawLocalFs = true).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val plan =
      try {
        val df = graft.SparkEntry.queries(args(0))(spark, args(1))
        val text =
          if (args.length > 2 && args(2) == "formatted")
            df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
          else df.queryExecution.optimizedPlan.treeString.take(8000)
        if (text.trim.isEmpty) Left(s"empty plan for ${args(0)}") else Right(text)
      } catch {
        case scala.util.control.NonFatal(e) =>
          Left(s"${args(0)} failed: ${e.getClass.getName}: ${e.getMessage}")
      }
    spark.stop()
    plan match {
      case Right(text) => println(text)
      case Left(reason) =>
        System.err.println(s"[ExplainQ] $reason")
        sys.exit(1)
    }
  }
}
