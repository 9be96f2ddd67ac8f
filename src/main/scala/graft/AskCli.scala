package graft

import java.io.{BufferedReader, PrintStream}

import graft.query.MarkdownSink
import org.apache.spark.sql.SparkSession

/** Interactive ask REPL — the engine's `python ask.py` (reference
  * `ask.py:276-326`): banner, prompt loop, `exit`/`quit`/`q` to
  * stop, blank lines skipped, each answered question appended to the
  * markdown Q/A log. The per-question work is [[Graft.AskSession.ask]];
  * the "answer" is the assembled retrieval context (LLM generation is
  * out of engine scope by design, SURVEY Q5 — callers feed the
  * context to their model).
  *
  * Streams are injected so the loop is scriptable in tests
  * (GraftFacadeSpec drives one Q/A round-trip through a
  * StringReader).
  */
object AskCli {

  def run(
      spark: SparkSession,
      indexPath: String,
      outFile: String,
      in: BufferedReader,
      out: PrintStream): Unit = {
    // backend URLs honor the same env vars as index-side (IndexCli):
    // an index built with --ollama-embeddings against OLLAMA_HOST must
    // be queried against that host, not the localhost default
    val session = Graft.openAuto(spark, indexPath, backends = Graft.Backends.fromEnv())
    try {
      out.println("Log Query Tool")
      out.println(s"Index: $indexPath")
      out.println(s"Output file: $outFile")
      out.println("Type 'exit' or 'quit' to stop.")
      var done = false
      while (!done) {
        out.print("\n[?] Ask a question about the log files: ")
        out.flush()
        val line = in.readLine()
        if (line == null) done = true // EOF behaves like exit (piped input)
        else if (Set("exit", "quit", "q").contains(line.trim.toLowerCase)) {
          out.println(s"\nAll responses saved to $outFile")
          done = true
        } else if (line.trim.isEmpty) () // blank-skip (ask.py:306-307)
        else {
          val res = session.ask(line)
          MarkdownSink.append(line, res.context, outFile)
          out.println("\nAnswer:\n")
          out.println(res.context)
          out.println(s"\nResponse saved to $outFile")
        }
      }
    } finally session.close()
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 1 || args.length > 2) {
      System.err.println("Usage: graft.AskCli <indexPath> [output_file.md]")
      sys.exit(1)
    }
    val indexPath = args(0)
    val outFile = if (args.length == 2) args(1) else "qa_log.md"
    val spark = SparkCli.session()
    try run(spark, indexPath, outFile,
      new BufferedReader(new java.io.InputStreamReader(System.in)), System.out)
    finally spark.stop()
  }
}
