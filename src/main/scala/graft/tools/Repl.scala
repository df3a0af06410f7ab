package graft.tools

import scala.tools.nsc.GenericRunnerSettings
import scala.tools.nsc.interpreter.shell.{ILoop, ShellConfig}

/** Interactive shell — the reference's spear-repl module re-expressed
  * without Ammonite (spear-repl/src/main/scala/spear/repl/Main.scala:19-37
  * boots an Ammonite REPL whose predef.scala instantiates a Context and
  * imports the DSL). Here the stock scala-compiler `ILoop` plays the same
  * role, the spark-shell way: a subclass injects the predef through
  * `internalReplAutorunCode`, so the user lands at a prompt with `context`
  * bound, the facade DSL imported, and `%.sql("...")` available — zero
  * dependencies beyond the scala-compiler jar already on the classpath.
  *
  * Launch: `scripts/run_main.sh graft.tools.Repl` (needs a tty for jline;
  * piped stdin falls back to the simple reader and still works).
  */
object Repl {

  /** Predef commands run in the fresh interpreter before the first prompt
    * (reference predef.scala: context + implicits + `%` SQL runner). Each
    * entry is a single self-contained line — the autorun path feeds them to
    * the interpreter one by one, transcript-style. */
  val preamble: Seq[String] = Seq(
    """@transient val context = graft.api.Context.local()""",
    """import graft.api._""",
    """import graft.api.types._""",
    """import org.apache.spark.sql.functions._""",
    // reference Main.scala:12-15: `% sql "..."` runs and shows a query
    """object % { def sql(query: String): Unit = context.sql(query).show() }"""
  )

  def banner: String =
    s"""Welcome to
       |   ____ ___  ___   ___ ______
       |  / __ `/ _\\/ _ | / _// ____/
       | / /_/ / /  / __ |/ _// /
       | \\__, /_/  /_/ |_/_/  \\__/
       |/____/  graft shell
       |
       |Scala ${scala.util.Properties.versionNumberString} / Java ${System.getProperty("java.version")}
       |
       |The default context object is available as `context`;
       |`% sql "SELECT ..."` runs and prints a SQL query.
       |""".stripMargin

  private class GraftILoop(config: ShellConfig) extends ILoop(config) {
    override def internalReplAutorunCode(): Seq[String] = preamble
    override def welcome: String = banner
  }

  /** Build interpreter settings: the REPL compiles user lines against the
    * launching JVM's classpath (graft classes + /opt/spark/jars). */
  def replSettings(): GenericRunnerSettings = {
    val settings = new GenericRunnerSettings(msg => Console.err.println(msg))
    settings.usejavacp.value = true
    settings
  }

  /** Batch entry used by ReplSpec: run `lines` through a fresh interpreter
    * (preamble first) and return the transcript. */
  def runBatch(lines: Seq[String]): String =
    ILoop.run((preamble ++ lines).mkString("\n"), replSettings())

  def main(args: Array[String]): Unit = {
    val settings = replSettings()
    val loop = new GraftILoop(ShellConfig(settings))
    if (!loop.run(settings)) sys.exit(1)
  }
}
