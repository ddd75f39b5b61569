package perfbench

import scala.collection.mutable

/** Single-threaded plain-Scala evaluator of the reference semantics
  * (`pack_ranges` and `Condition` of the reference tool), written from
  * the rules, not from the Spark code, so the benchmark can check every
  * summary the program reports:
  *   - a reading is valid from its time to the next reading of its key,
  *     at most 30 min; the last reading of a key is dropped;
  *   - adjacent readings of equal truth value merge into one island,
  *     on value change only, so a capped gap inside a run is absorbed;
  *   - block boundaries are refined to one grid; a block's value on a
  *     grid range is the value of the range that opened last at or
  *     before it, or NULL when a range closed last or none opened;
  *   - the master expression is evaluated in SQL three-valued logic;
  *   - the summary spans the first to the last boundary, and NULL or
  *     uncovered time counts as no data.
  */
object RefEval {

  val CapS: Long = 30 * 60

  /** One range with its 3VL value: 1 true, 0 false, -1 NULL. */
  final case class Rng(from: Long, until: Long, v: Int)

  final case class Summary(validS: Long, notvalidS: Long, nodataS: Long,
                           tottimeS: Long, nRows: Long)

  def islands(s: Option[Series], lo: Long, hi: Long, pred: Float => Boolean): Vector[Rng] = {
    val out = Vector.newBuilder[Rng]
    s.foreach { s =>
      val idx = s.times.indices.filter(i => s.times(i) >= lo && s.times(i) <= hi)
      var cur: Rng = null
      for (k <- 0 until idx.size - 1) {
        val i = idx(k)
        val t = s.times(i)
        val until = math.min(s.times(idx(k + 1)), t + CapS)
        val v = if (pred(s.values(i))) 1 else 0
        if (cur != null && cur.v == v) cur = cur.copy(until = until)
        else { if (cur != null) out += cur; cur = Rng(t, until, v) }
      }
      if (cur != null) out += cur
    }
    out.result()
  }

  def predicate(p: Prim): Float => Boolean = {
    val a = p.values.head
    p.op match {
      case "<" => _ < a
      case ">" => _ > a
      case "<=" => _ <= a
      case ">=" => _ >= a
      case "=" => _ == a
      case "<>" => _ != a
      case "in" => x => p.values.contains(x.toDouble)
    }
  }

  def eval3(e: GExpr, vals: Int => Int): Int = e match {
    case GExpr.Leaf(i) => vals(i)
    case GExpr.Not(x) => val v = eval3(x, vals); if (v < 0) -1 else 1 - v
    case GExpr.And(l, r) =>
      val a = eval3(l, vals); val b = eval3(r, vals)
      if (a == 0 || b == 0) 0 else if (a < 0 || b < 0) -1 else 1
    case GExpr.Or(l, r) =>
      val a = eval3(l, vals); val b = eval3(r, vals)
      if (a == 1 || b == 1) 1 else if (a < 0 || b < 0) -1 else 0
  }

  /** Master ranges of one condition over its blocks' ranges. */
  def condition(blocks: Vector[Vector[Rng]], expr: GExpr): Vector[Rng] =
    if (blocks.size == 1)
      blocks.head.map(r => r.copy(v = eval3(expr, _ => r.v)))
    else {
      // per boundary, per block: (priority, value) — an open (1) shadows
      // a close (0) at the same instant
      val events = mutable.TreeMap.empty[Long, Array[(Int, Int)]]
      def at(t: Long) = events.getOrElseUpdate(t, Array.fill(blocks.size)(null))
      for ((rs, b) <- blocks.zipWithIndex; r <- rs) {
        val o = at(r.from); o(b) = (1, r.v)
        val c = at(r.until); if (c(b) == null) c(b) = (0, 0)
      }
      val state = Array.fill[(Int, Int)](blocks.size)(null)
      val grid = events.toVector
      grid.indices.dropRight(1).map { i =>
        val (t, ev) = grid(i)
        for (b <- blocks.indices if ev(b) != null) state(b) = ev(b)
        val vals = state.map(s => if (s != null && s._1 == 1) s._2 else -1)
        Rng(t, grid(i + 1)._1, eval3(expr, vals))
      }.toVector
    }

  def summary(rows: Vector[Rng]): Summary = {
    if (rows.isEmpty) Summary(0, 0, 0, 0, 0)
    else {
      val tot = rows.map(_.until).max - rows.map(_.from).min
      val valid = rows.filter(_.v == 1).map(r => r.until - r.from).sum
      val notvalid = rows.filter(_.v == 0).map(r => r.until - r.from).sum
      Summary(valid, notvalid, tot - valid - notvalid, tot, rows.size)
    }
  }

  /** Evaluate every sheet in order; secondary blocks read the master
    * ranges of conditions evaluated before them, in any sheet.
    * @return condition id per sheet → summary
    */
  def run(sheets: Seq[GSheet], series: Map[(Int, Int), Series]): Map[(String, String), Summary] = {
    val catalog = mutable.Map.empty[String, Vector[Rng]]
    val out = mutable.Map.empty[(String, String), Summary]
    for (sh <- sheets; c <- sh.conds) {
      val blocks = c.blocks.map {
        case p: Prim => islands(series.get((p.statid, p.seid)), sh.lo, sh.hi, predicate(p))
        case s: Sec => catalog(s.id)
      }
      val rows = condition(blocks, c.expr)
      catalog(c.id) = rows
      out((sh.title, c.id)) = summary(rows)
    }
    out.toMap
  }
}
