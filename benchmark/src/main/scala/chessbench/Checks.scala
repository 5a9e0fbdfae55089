package chessbench

/** Correctness checks that need no Spark: each returns the list of
  * mismatches it found (empty = correct).
  */
object Checks {

  /** A collected visual: its column names and its rows, in order. */
  final case class Visual(columns: Seq[String], rows: Seq[String])

  /** Streaming visuals must equal the batch visuals of the same name,
    * column for column and row for row.
    */
  def visualsMatch(batch: Seq[(String, Visual)],
                   stream: Seq[(String, Visual)]): Seq[String] = {
    val b = batch.toMap
    stream.flatMap { case (name, s) =>
      b.get(name) match {
        case None => Seq(s"$name: no batch visual to compare")
        case Some(v) if v.columns != s.columns =>
          Seq(s"$name: columns ${s.columns.mkString(",")} != batch ${v.columns.mkString(",")}")
        case Some(v) if v.rows != s.rows =>
          val i = v.rows.zipAll(s.rows, "<none>", "<none>").indexWhere { case (x, y) => x != y }
          Seq(s"$name: row $i stream ${s.rows.lift(i).getOrElse("<none>")} != batch ${v.rows.lift(i).getOrElse("<none>")}")
        case _ => Nil
      }
    } ++ batch.map(_._1).filterNot(stream.map(_._1).toSet).map(n => s"$n: no stream visual")
  }

  def equal(what: String, got: Any, want: Any): Seq[String] =
    if (got == want) Nil else Seq(s"$what: got $got, expected $want")
}
