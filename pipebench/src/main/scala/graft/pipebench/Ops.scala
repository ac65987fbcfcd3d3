package graft.pipebench

import org.apache.spark.sql.DataFrame

/** One read in the closed-loop mix. `layer` is the module it exercises
  * (`operators` or `functions`); `pinned` says whether its result is a
  * function of fixed inputs and so checked against a pinned checksum.
  */
final case class Op(name: String, layer: String, pinned: Boolean, build: () => DataFrame)

final case class OpTime(name: String, layer: String, planS: Double, execS: Double,
    result: Checksum) {
  def totalS: Double = planS + execS
}

object Ops {
  /** Build the DataFrame through the system's entry point and force its
    * physical plan (`plan_s`), then execute it by reducing every result
    * row, all columns, to its order-independent checksum (`exec_s`): a
    * full materialisation like the `noop` sink that also yields the
    * value the correctness check compares.
    */
  def run(ctx: Ctx, op: Op, opId: Long): OpTime =
    ctx.trace.span(s"${op.layer}.${op.name}", opId) {
      val t0 = System.nanoTime()
      val df = ctx.trace.span(s"${op.layer}.plan", opId) {
        val d = op.build()
        d.queryExecution.executedPlan
        d
      }
      val t1 = System.nanoTime()
      val sum = ctx.trace.span(s"${op.layer}.exec", opId)(Checksum.of(df))
      OpTime(op.name, op.layer, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9, sum)
    }

  /** Per-op and per-phase seconds summed over a window, for one layer. */
  def layer(layer: String, times: Seq[OpTime], names: Seq[String]): Map[String, (Double, String)] = {
    val mine = times.filter(_.layer == layer)
    Map(s"$layer.plan_s" -> (mine.map(_.planS).sum, "s"),
      s"$layer.exec_s" -> (mine.map(_.execS).sum, "s")) ++
      names.map(n => s"$layer.${n}_s" -> (mine.filter(_.name == n).map(_.totalS).sum, "s"))
  }
}

/** Result checksums pinned from the seed commit (resource
  * `checksums/serve.txt`, lines `<op> <checksum>`).
  */
object Pinned {
  def load(workload: String): Map[String, String] = {
    val in = getClass.getResourceAsStream(s"/checksums/$workload.txt")
    if (in == null) Map.empty
    else try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\\s+", 2); k -> v }.toMap
    finally in.close()
  }
}
