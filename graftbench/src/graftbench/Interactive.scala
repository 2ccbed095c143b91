package graftbench

/** interactive: one client mixing reads (LDBC short and complex reads,
  * nGQL traversals over the GraphStore-backed graph) with nGQL writes to
  * a TableCatalog space, each write followed by a read of what it wrote.
  * A round is every read template once plus three write/read pairs, in a
  * seeded order. */
final class Interactive(reads: InteractiveRead, writes: DmlMixed,
                        rnd: scala.util.Random) extends Workload {
  def setupRep(rep: Int): Double = {
    val store = reads.setupRep(rep)
    writes.setupRep(rep)
    store
  }

  def nextRound(): Seq[Op] = {
    val units = reads.nextRound().map(Seq(_)) ++ writes.nextRound().grouped(2)
    rnd.shuffle(units).flatten
  }

  def finish(samples: Seq[Sample]): (Int, Int) = {
    val (a1, f1) = reads.finish(samples)
    val (a2, f2) = writes.finish(samples)
    (a1 + a2, f1 + f2)
  }

  def report(tracer: Tracer, samples: Seq[Sample]): Map[String, Any] = {
    val r = reads.report(tracer, samples)
    val w = writes.report(tracer, samples)
    def layers(m: Map[String, Any]) =
      m.getOrElse("per_layer", Map.empty).asInstanceOf[Map[String, Double]]
    val merged = r ++ w
    if (tracer.on) merged + ("per_layer" -> (layers(r) ++ layers(w)))
    else merged
  }
}
