package graft.queries

/** Every query the engine ships, family by family. A new query is one
  * [[QueryDef]] in its family's `defs`; an index or shared frame it
  * needs built in set-up goes in the same family's `indexes` or
  * `setupFrames`.
  */
object Catalog {
  val families: Seq[QueryFamily] = Seq(ProfileQueries, SqlQueries,
    EventQueries, TextQueries, DedupQueries, VectorQueries, SearchQueries,
    GraphQueries, StatsQueries, ModelQueries, CurationQueries,
    TableFormatQueries, MultimodalQueries)

  val all: Seq[QueryDef] = {
    val defs = families.flatMap(_.defs)
    val dups = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    defs
  }

  /** The named query; an unknown name is rejected. */
  def named(name: String): QueryDef = all.find(_.name == name)
    .getOrElse(throw new IllegalArgumentException(s"unknown query: $name"))
}
