package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.GraftDatasetBridge

/** graft's native expressions: one name table, two consumers.
  *
  *  - DataFrame code builds a column with [[GraftFunctions.call]], which
  *    runs the table's builder directly: no session, no registry lookup,
  *    and the arity checks fire when the column is built.
  *  - SQL text reaches the same names through [[GraftExtensions]], the
  *    `spark.sql.extensions` entry point. `graft.GraftSession.local`
  *    installs it; elsewhere set
  *    `--conf spark.sql.extensions=graft.expressions.GraftExtensions`.
  */
object GraftFunctions {

  private[expressions] val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "cosine_similarity takes exactly 2 arguments")
        CosineSimilarity(children.head, children(1))
      }),
    (FunctionIdentifier("sorted_intersect_size"),
      new ExpressionInfo(classOf[SortedIntersectSize].getName, "sorted_intersect_size"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "sorted_intersect_size takes exactly 2 arguments")
        SortedIntersectSize(children.head, children(1))
      }),
    (FunctionIdentifier("sorted_intersect"),
      new ExpressionInfo(classOf[SortedIntersect].getName, "sorted_intersect"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "sorted_intersect takes exactly 2 arguments")
        SortedIntersect(children.head, children(1))
      }),
    (FunctionIdentifier("minhash_signature"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_signature"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "minhash_signature takes exactly 2 arguments")
        MinHashSignature(children.head, children(1))
      }),
    (FunctionIdentifier("lsh_band_hashes"),
      new ExpressionInfo(classOf[LshBandHashes].getName, "lsh_band_hashes"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "lsh_band_hashes takes exactly 3 arguments")
        LshBandHashes(children.head, children(1), children(2))
      }),
    (FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "simhash64 takes exactly 1 argument")
        SimHash64(children.head)
      }),
    (FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "shingle_hashes"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "shingle_hashes takes exactly 2 arguments")
        ShingleHashes(children.head, children(1))
      }),
    (FunctionIdentifier("md5_hashes64"),
      new ExpressionInfo(classOf[Md5Hashes64].getName, "md5_hashes64"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "md5_hashes64 takes exactly 1 argument")
        Md5Hashes64(children.head)
      }),
    (FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "jaro_winkler takes exactly 2 arguments")
        JaroWinkler(children.head, children(1))
      }),
    (FunctionIdentifier("ngram_overlap_stats"),
      new ExpressionInfo(classOf[NgramOverlapStats].getName, "ngram_overlap_stats"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "ngram_overlap_stats takes exactly 3 arguments")
        NgramOverlapStats(children.head, children(1), children(2))
      }),
    (FunctionIdentifier("char_gram_hashes"),
      new ExpressionInfo(classOf[CharGramHashes].getName, "char_gram_hashes"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "char_gram_hashes takes exactly 2 arguments")
        CharGramHashes(children.head, children(1))
      }),
    (FunctionIdentifier("char_gram_buckets"),
      new ExpressionInfo(classOf[CharGramBuckets].getName, "char_gram_buckets"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "char_gram_buckets takes exactly 3 arguments")
        CharGramBuckets(children.head, children(1), children(2))
      }),
    (FunctionIdentifier("lcs_length"),
      new ExpressionInfo(classOf[LcsLength].getName, "lcs_length"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "lcs_length takes exactly 2 arguments")
        LcsLength(children.head, children(1))
      }),
    (FunctionIdentifier("token_edit_distance"),
      new ExpressionInfo(classOf[TokenEditDistance].getName, "token_edit_distance"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "token_edit_distance takes exactly 2 arguments")
        TokenEditDistance(children.head, children(1))
      }),
    (FunctionIdentifier("normalize_nfc"),
      new ExpressionInfo(classOf[NormalizeNfc].getName, "normalize_nfc"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "normalize_nfc takes exactly 1 argument")
        NormalizeNfc(children.head)
      }),
    (FunctionIdentifier("ngram_overlap_stats_multi"),
      new ExpressionInfo(classOf[NgramOverlapStatsMulti].getName, "ngram_overlap_stats_multi"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "ngram_overlap_stats_multi takes exactly 3 arguments")
        NgramOverlapStatsMulti(children.head, children(1), children(2))
      }),
    (FunctionIdentifier("unicode_tokens"),
      new ExpressionInfo(classOf[UnicodeTokens].getName, "unicode_tokens"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "unicode_tokens takes exactly 1 argument")
        UnicodeTokens(children.head)
      }),
    (FunctionIdentifier("sentence_split"),
      new ExpressionInfo(classOf[SentenceSplit].getName, "sentence_split"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "sentence_split takes exactly 1 argument")
        SentenceSplit(children.head)
      }),
    (FunctionIdentifier("sentence_chunks"),
      new ExpressionInfo(classOf[SentenceChunks].getName, "sentence_chunks"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "sentence_chunks takes exactly 2 arguments")
        SentenceChunks(children.head, children(1))
      }),
    (FunctionIdentifier("text_array_stats"),
      new ExpressionInfo(classOf[TextArrayStats].getName, "text_array_stats"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "text_array_stats takes exactly 2 arguments")
        TextArrayStats(children.head, children(1))
      }),
    (FunctionIdentifier("quantize_int8_stats"),
      new ExpressionInfo(classOf[QuantizeInt8Stats].getName, "quantize_int8_stats"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "quantize_int8_stats takes exactly 1 argument")
        QuantizeInt8Stats(children.head)
      }),
    (FunctionIdentifier("ngram_repetition"),
      new ExpressionInfo(classOf[NgramRepetition].getName, "ngram_repetition"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "ngram_repetition takes exactly 2 arguments")
        NgramRepetition(children.head, children(1))
      }),
    (FunctionIdentifier("misra_gries"),
      new ExpressionInfo(classOf[MisraGries].getName, "misra_gries"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "misra_gries takes exactly 2 arguments")
        MisraGries(children.head, children(1))
      }),
    (FunctionIdentifier("bitmap_build"),
      new ExpressionInfo(classOf[BitmapBuildAgg].getName, "bitmap_build"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "bitmap_build takes exactly 1 argument")
        BitmapBuildAgg(children.head)
      }),
    (FunctionIdentifier("bitmap_union_agg"),
      new ExpressionInfo(classOf[BitmapUnionAgg].getName, "bitmap_union_agg"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "bitmap_union_agg takes exactly 1 argument")
        BitmapUnionAgg(children.head)
      }),
    (FunctionIdentifier("bitmap_cardinality"),
      new ExpressionInfo(classOf[BitmapCardinality].getName, "bitmap_cardinality"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "bitmap_cardinality takes exactly 1 argument")
        BitmapCardinality(children.head)
      }),
    (FunctionIdentifier("bitmap_contains"),
      new ExpressionInfo(classOf[BitmapContains].getName, "bitmap_contains"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "bitmap_contains takes exactly 2 arguments")
        BitmapContains(children.head, children(1))
      }),
    (FunctionIdentifier("bitmap_and_cardinality"),
      new ExpressionInfo(classOf[BitmapAndCardinality].getName, "bitmap_and_cardinality"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "bitmap_and_cardinality takes exactly 2 arguments")
        BitmapAndCardinality(children.head, children(1))
      }),
    (FunctionIdentifier("hilbert2"),
      new ExpressionInfo(classOf[HilbertIndex2].getName, "hilbert2"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "hilbert2 takes exactly 3 arguments")
        HilbertIndex2(children.head, children(1), children(2))
      }),
    (FunctionIdentifier("sample_bottomk"),
      new ExpressionInfo(classOf[BottomKSampleAgg].getName, "sample_bottomk"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "sample_bottomk takes exactly 2 arguments")
        BottomKSampleAgg(children.head, children(1))
      }),
    (FunctionIdentifier("cms_build"),
      new ExpressionInfo(classOf[CmsBuildAgg].getName, "cms_build"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "cms_build takes exactly 3 arguments")
        CmsBuildAgg(children.head, children(1), children(2))
      }),
    (FunctionIdentifier("cms_merge_agg"),
      new ExpressionInfo(classOf[CmsMergeAgg].getName, "cms_merge_agg"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "cms_merge_agg takes exactly 1 argument")
        CmsMergeAgg(children.head)
      }),
    (FunctionIdentifier("cms_estimate"),
      new ExpressionInfo(classOf[CmsEstimate].getName, "cms_estimate"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "cms_estimate takes exactly 2 arguments")
        CmsEstimate(children.head, children(1))
      }),
    (FunctionIdentifier("cms_inner_product"),
      new ExpressionInfo(classOf[CmsInnerProduct].getName, "cms_inner_product"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "cms_inner_product takes exactly 2 arguments")
        CmsInnerProduct(children.head, children(1))
      }),
    (FunctionIdentifier("kmv_build"),
      new ExpressionInfo(classOf[KmvBuildAgg].getName, "kmv_build"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "kmv_build takes exactly 2 arguments")
        KmvBuildAgg(children.head, children(1))
      }),
    (FunctionIdentifier("kmv_merge_agg"),
      new ExpressionInfo(classOf[KmvMergeAgg].getName, "kmv_merge_agg"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "kmv_merge_agg takes exactly 1 argument")
        KmvMergeAgg(children.head)
      }),
    (FunctionIdentifier("kmv_cardinality"),
      new ExpressionInfo(classOf[KmvCardinality].getName, "kmv_cardinality"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "kmv_cardinality takes exactly 1 argument")
        KmvCardinality(children.head)
      }),
    (FunctionIdentifier("kmv_and_cardinality"),
      new ExpressionInfo(classOf[KmvAndCardinality].getName, "kmv_and_cardinality"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "kmv_and_cardinality takes exactly 2 arguments")
        KmvAndCardinality(children.head, children(1))
      }),
    (FunctionIdentifier("kmv_andnot_cardinality"),
      new ExpressionInfo(classOf[KmvAndNotCardinality].getName, "kmv_andnot_cardinality"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "kmv_andnot_cardinality takes exactly 2 arguments")
        KmvAndNotCardinality(children.head, children(1))
      }),
    (FunctionIdentifier("kmv_or_cardinality"),
      new ExpressionInfo(classOf[KmvOrCardinality].getName, "kmv_or_cardinality"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "kmv_or_cardinality takes exactly 2 arguments")
        KmvOrCardinality(children.head, children(1))
      }),
    (FunctionIdentifier("ddsketch_build"),
      new ExpressionInfo(classOf[DDSketchAgg].getName, "ddsketch_build"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "ddsketch_build takes exactly 2 arguments")
        DDSketchAgg(children.head, children(1))
      }),
    (FunctionIdentifier("ddsketch_merge_agg"),
      new ExpressionInfo(classOf[DDSketchMergeAgg].getName, "ddsketch_merge_agg"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "ddsketch_merge_agg takes exactly 1 argument")
        DDSketchMergeAgg(children.head)
      }),
    (FunctionIdentifier("ddsketch_psi"),
      new ExpressionInfo(classOf[DDSketchPsi].getName, "ddsketch_psi"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "ddsketch_psi takes exactly 2 arguments")
        DDSketchPsi(children.head, children(1))
      }),
    (FunctionIdentifier("ddsketch_quantile"),
      new ExpressionInfo(classOf[DDSketchQuantile].getName, "ddsketch_quantile"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "ddsketch_quantile takes exactly 2 arguments")
        DDSketchQuantile(children.head, children(1))
      }),
    (FunctionIdentifier("aho_corasick_counts"),
      new ExpressionInfo(classOf[AhoCorasickCounts].getName, "aho_corasick_counts"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "aho_corasick_counts takes exactly 2 arguments")
        AhoCorasickCounts(children.head, children(1))
      }),
    (FunctionIdentifier("singleton_key"),
      new ExpressionInfo(classOf[SingletonKey].getName, "singleton_key"),
      (children: Seq[Expression]) => {
        require(children.isEmpty, "singleton_key takes no arguments")
        SingletonKey()
      }),
    (FunctionIdentifier("poisson_replicates"),
      new ExpressionInfo(classOf[PoissonReplicates].getName, "poisson_replicates"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "poisson_replicates takes exactly 2 arguments")
        PoissonReplicates(children.head, children(1))
      }))

  private val builders: Map[String, Seq[Expression] => Expression] =
    functions.map { case (ident, _, builder) => ident.funcName -> builder }.toMap

  /** The native expression `name` over `args`, as a Column. */
  def call(name: String, args: Column*): Column =
    GraftDatasetBridge.column(builders(name)(args.map(GraftDatasetBridge.expression)))
}

/** `spark.sql.extensions` entry point. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.functions.foreach { case (ident, info, builder) =>
      ext.injectFunction((ident, info, builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.LevenshteinThresholdRule)
  }
}
