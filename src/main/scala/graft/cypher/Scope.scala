package graft.cypher

import org.apache.spark.sql.DataFrame

/** What a Cypher variable is bound to inside the planned DataFrame. */
sealed trait Binding { def name: String }
/** Vertex variable: columns v@id, v@label, v@p#<prop>. */
final case class NodeB(name: String, props: Seq[String]) extends Binding
/** Edge variable: columns v@id, v@label, v@start, v@end, v@p#<prop>. */
final case class EdgeB(name: String, props: Seq[String]) extends Binding
/** Variable-length edge: columns v@ids (array<long>), v@hops, v@start, v@end. */
final case class VleB(name: String) extends Binding
/** Named path: columns v@ids (edge ids), v@nids (node ids), v@hops.
  * `relTypes`: the union of the pattern's relationship types when EVERY
  * hop was explicitly typed (empty = unrestricted) — a static fact
  * about which edge labels the id array can possibly reference, so
  * relationships(p) materialization can prune the other labels' scans
  * without changing the aligned entity schema. */
final case class PathB(name: String, relTypes: Set[String] = Set.empty)
  extends Binding
/** Plain value from WITH/UNWIND/RETURN: single column named `name`. */
final case class ValueB(name: String) extends Binding

/** Insertion-ordered variable scope over a DataFrame. `rewritten` names
  * the entity bindings whose property columns a SET/REMOVE earlier in
  * the statement rewrote: rows sharing such an entity's id may then
  * carry different column values, so the id no longer determines them. */
final case class Scope(df: DataFrame, bindings: Vector[Binding],
    rewritten: Set[String] = Set.empty) {
  def get(v: String): Option[Binding] = bindings.find(_.name == v)
  def has(v: String): Boolean = bindings.exists(_.name == v)
  def add(b: Binding): Scope = copy(bindings = bindings.filterNot(_.name == b.name) :+ b)
  def withDf(d: DataFrame): Scope = copy(df = d)
  /** A new frame and binding list, keeping what the statement rewrote. */
  def rebind(d: DataFrame, bs: Vector[Binding]): Scope = copy(df = d, bindings = bs)

  /** All physical column names owned by a binding. */
  def colsOf(b: Binding): Seq[String] = b match {
    case NodeB(v, props) => Seq(Columns.idCol(v), Columns.labelCol(v)) ++
      props.map(Columns.propCol(v, _))
    case EdgeB(v, props) =>
      Seq(Columns.idCol(v), Columns.labelCol(v), Columns.startCol(v), Columns.endCol(v)) ++
        props.map(Columns.propCol(v, _))
    case VleB(v) =>
      Seq(Columns.idsCol(v), Columns.hopsCol(v), Columns.startCol(v), Columns.endCol(v))
    case PathB(v, _) => Seq(Columns.idsCol(v), Columns.nidsCol(v), Columns.hopsCol(v))
    case ValueB(v) => Seq(v)
  }
}
