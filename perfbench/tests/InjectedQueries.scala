package graftbench

/** Drives graftbench.Main's run loop over three stand-in queries in
  * place of the engine's: one correct, one that throws, and one whose
  * result differs from the correct one's by a row. test_injected.py
  * checks how the benchmark counts them. */
object InjectedQueries {
  def main(args: Array[String]): Unit =
    Main.runPlan(args(0), Map(
      "good" -> ((s, _) => s.range(10).toDF("id")),
      "throws" -> ((_, _) => throw new IllegalStateException("injected failure")),
      "wrong" -> ((s, _) => s.range(11).toDF("id"))))
}
