package graft

/** Registry of DATA-DERIVED plan constants (r18 — the r17 verdict's
  * What's-wrong #3, generalizing the 20L fix from the observed
  * collision to the collision class).
  *
  * The audit net's boundedness rules accept a filter literal only if
  * it appears in [[ExplainAudit.CodeConstantBounds]] (global) or
  * [[ExplainAudit.PerQueryBounds]] (contract literals scoped to their
  * declaring query) — because a data-derived size (nlist = n/100) is
  * indistinguishable from a code constant once it is a literal in the
  * plan. That leaves one silent failure mode: a data-derived value
  * that happens to EQUAL a registered bound at some scale factor
  * (nlist read 20 at sf0.1 while 20L was global — the r16→r17
  * collision). The 20L fix retired the observed case; this registry
  * retires the class:
  *
  *  - Every query that computes a data-derived plan constant calls
  *    [[note]] with its query name, a label, and the value — the
  *    code's declaration "this literal is a SIZE, not a contract".
  *  - [[collisions]] cross-checks every recorded value against the
  *    applicable bounds set (global ∪ the SAME query's per-query
  *    entry). `Harness audit --all` fails the sweep on any hit, so the
  *    bounds lattice cannot silently re-collide as SFs, generation
  *    laws, or the registries change.
  *
  * Per-JVM, like the [[Pinned]] registry: values recorded while
  * constructing plans in this session are compared against the
  * registries in this session, which is all the sweep does.
  */
object DerivedConstants {

  private val reg =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Long]()

  /** Record `value` as a data-derived constant used by `query`'s plan
    * and return it (an expression-position pass-through).
    */
  def note(query: String, label: String, value: Long): Long = {
    reg.put((query, label), value)
    value
  }

  /** All recorded (query, label, value) triples. */
  private[graft] def recorded: Seq[(String, String, Long)] =
    { import scala.jdk.CollectionConverters._
      reg.asScala.toSeq.map { case ((q, l), v) => (q, l, v) }.sortBy(t => (t._1, t._2)) }

  /** Collision report: recorded data-derived values that equal a
    * member of the applicable bounds set — GLOBAL CodeConstantBounds
    * (any query's plans may be audited under them) or the SAME
    * query's PerQueryBounds entry. `extraGlobal` lets the spec prove
    * the tripwire fires for the historical 20L-global lattice.
    */
  private[graft] def collisions(extraGlobal: Set[Long] = Set.empty): Seq[String] =
    recorded.flatMap { case (q, l, v) =>
      val globalHit =
        if (ExplainAudit.CodeConstantBounds(v) || extraGlobal(v))
          Seq(s"$q.$l=$v collides with a GLOBAL CodeConstantBounds literal")
        else Seq.empty
      val perQueryHit =
        if (ExplainAudit.PerQueryBounds.get(q).exists(_(v)))
          Seq(s"$q.$l=$v collides with PerQueryBounds($q)")
        else Seq.empty
      globalHit ++ perQueryHit
    }
}
