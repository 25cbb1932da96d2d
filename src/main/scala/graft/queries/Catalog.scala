package graft
package queries

/** Every gate query, one [[QuerySpec]] each, in name order. Verify, Bench
  * and Plans iterate over it; [[graft.SparkEntry]]'s maps are views of it. */
object Catalog {
  val specs: Seq[QuerySpec] = Seq(
    TextQueries.specs, RelationalQueries.specs, GraphQueries.specs,
    DedupQueries.specs, AnnQueries.specs, TextAnalysisQueries.specs,
    MultimodalQueries.specs, PipelineQueries.specs, LayoutQueries.specs,
  ).flatten.sortBy(_.name)

  val byName: Map[String, QuerySpec] = specs.map(s => s.name -> s).toMap
  require(byName.size == specs.size, "duplicate gate query names: " +
    specs.groupBy(_.name).collect { case (n, ss) if ss.size > 1 => n }.mkString(", "))

  def apply(name: String): QuerySpec = byName.getOrElse(name,
    throw new NoSuchElementException(s"no gate query named $name"))
}
