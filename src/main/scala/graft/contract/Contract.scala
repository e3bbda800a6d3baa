package graft.contract

/** Every contract query, one family object per file in this package. */
object Contract {

  val all: Seq[Query] = unique(Seq(
    ScanQueries.all, TransformQueries.all, AnalyticQueries.all, SetOpQueries.all,
    SimilarityQueries.all, TextQueries.all, MultimodalQueries.all, StreamingQueries.all,
    BuiltinQueries.all, TpchQueries.all, SketchQueries.all, CurationQueries.all,
    CalibrationQueries.all, RobustQueries.all, TimeSeriesQueries.all, BootstrapQueries.all,
    GraphQueries.all, ClusteringQueries.all, EmbeddingQueries.all, PreferenceQueries.all,
    RetrievalQueries.all, PrivacyQueries.all).flatten)

  /** `queries` unchanged, or `IllegalArgumentException` naming every name
    * that appears more than once. */
  def unique(queries: Seq[Query]): Seq[Query] = {
    val dups = queries.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }.toSeq.sorted
    if (dups.nonEmpty)
      throw new IllegalArgumentException(s"duplicate contract query names: ${dups.mkString(", ")}")
    queries
  }
}
