package graft.engine

import MapleJuice.{JuiceFn, MapleFn}

/** The reference's two shipped applications as in-JVM Maple/Juice bodies —
  * the one home of `builtin:wc` and `builtin:rwlg` for the CLI and the
  * word-count / reverse-web-link-graph queries.
  *
  * Word count splits on the one tokenizer's blank class
  * ([[graft.operators.TextOps.Blanks]]), so the Maple body, the declarative
  * plan and the DuckDB oracle agree on which characters separate words. */
object Builtins {

  private val BlankRun = java.util.regex.Pattern.compile(graft.operators.TextOps.Blanks)

  /** A1 (reference `applications/wc-maple.py:5-7`): one ("word", "1") pair
    * per token. */
  val wcMaple: MapleFn =
    lines => lines.flatMap(BlankRun.split(_)).filter(_.nonEmpty).map(w => KV(w, "1"))

  /** A2 (`applications/wc-juice.py:5-14`): the count per word. */
  val wcJuice: JuiceFn =
    (key, values) => Iterator.single(KV(key, values.map(_.toLong).sum.toString))

  /** A3 (`applications/rwlg-maple.py:5-7`): reverse a `source,target` edge
    * to (target, source); a line without a comma emits nothing. */
  val rwlgMaple: MapleFn =
    lines => lines.flatMap { line =>
      val i = line.indexOf(',')
      if (i < 0) Iterator.empty
      else Iterator.single(KV(line.substring(i + 1), line.substring(0, i)))
    }

  /** A4 (`applications/rwlg-juice.py:5-14`): the sorted distinct sources
    * of a target, comma-joined. */
  val rwlgJuice: JuiceFn =
    (key, values) => Iterator.single(KV(key, values.toSet.toSeq.sorted.mkString(",")))

  /** `builtin:<name>` → its (Maple, Juice) pair. */
  val byName: Map[String, (MapleFn, JuiceFn)] = Map(
    "builtin:wc" -> (wcMaple, wcJuice),
    "builtin:rwlg" -> (rwlgMaple, rwlgJuice))
}
