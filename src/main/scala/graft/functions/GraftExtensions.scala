package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions injector — the configuration-driven way to
  * install the graft native functions into EVERY session of a deployment:
  *
  * {{{
  *   spark.sql.extensions=graft.functions.GraftExtensions
  * }}}
  *
  * After that, `SELECT cosine_sim(a, b)` etc. resolve in plain SQL with
  * no programmatic `ensureRegistered` call. The library's own queries
  * keep calling `ensureRegistered` so they work on un-configured
  * sessions too — both paths register the same expressions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftFunctions.type].getName, name)

  override def apply(ext: SparkSessionExtensions): Unit = {
    def inject(name: String, builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name), info(name), builder))

    inject("hamming_dist", es => GraftFunctions.HammingDistance(es.head, es(1)))
    inject("cosine_sim", es => GraftFunctions.CosineSimilarity(es.head, es(1)))
    inject("simhash64", es => GraftFunctions.SimHash64(es.head))
    inject("minhash_sigs", es => GraftFunctions.MinHashSigs(es.head,
      es(1).eval().asInstanceOf[Number].intValue(),
      es(2).eval().asInstanceOf[Number].longValue()))
    inject("word_shingles", es => GraftFunctions.WordShingles(es.head,
      es(1).eval().asInstanceOf[Number].intValue()))
    inject("lsh_sigs", es => GraftFunctions.LshSignatures(es.head,
      es(1).eval().asInstanceOf[Number].intValue(),
      es(2).eval().asInstanceOf[Number].intValue(),
      es(3).eval().asInstanceOf[Number].longValue()))
    inject("quantize_vec", es => GraftFunctions.QuantizeVector(es.head))
    inject("qcos_upper", es => GraftFunctions.QuantizedCosineUpper(es.head, es(1)))
    inject("topk_score", es => TopKScoreAgg(es.head, es(1),
      es(2).eval().asInstanceOf[Number].intValue()))
    inject("capped_ids", es => CappedIdsAgg(es.head,
      es(1).eval().asInstanceOf[Number].intValue()))
    inject("id_pairs", es => GraftFunctions.IdPairs(es.head))
    inject("ivf_top_cents", es => GraftFunctions.IvfTopCents(es.head, es(1),
      es(2).eval().asInstanceOf[Number].intValue()))
    inject("l2_argmin", es => GraftFunctions.L2Argmin(es.head, es(1)))
    inject("pq_encode", es => GraftFunctions.PqEncode(es.head, es(1),
      es(2).eval().asInstanceOf[Number].intValue(),
      es(3).eval().asInstanceOf[Number].intValue()))
    inject("pq_adc_table", es => GraftFunctions.PqAdcTable(es.head, es(1),
      es(2).eval().asInstanceOf[Number].intValue(),
      es(3).eval().asInstanceOf[Number].intValue()))
    inject("pq_adc_dot", es => GraftFunctions.PqAdcDot(es.head, es(1),
      es(2).eval().asInstanceOf[Number].intValue()))
    inject("cms_probe", es => GraftFunctions.CmsProbe(es.head,
      es(1).eval().asInstanceOf[Array[Byte]]))
    inject("bloom_probe", es => GraftFunctions.BloomProbe(es.head,
      es(1).eval().asInstanceOf[Array[Byte]]))
  }
}
