package graft.operators

import graft.SparkSpec

/** Id-keyed vocabulary lookup (the reference's `has_index=True` DAWG
  * variant, `dawg.py:60-65`): out-of-vocabulary tokens must keep a null
  * id. */
class VocabularySpec extends SparkSpec {

  private def vocabDF = {
    import spark.implicits._
    Seq(("cat", 7L), ("dog", 3L), ("fish", 11L)).toDF("token", "tokenid")
  }

  private def tokensDF = {
    import spark.implicits._
    Seq((0L, "cat"), (0L, "axolotl"), (1L, "fish"), (1L, "dog"), (2L, "dog"))
      .toDF("doc_id", "token")
  }

  test("resolveIds attaches ids and leaves OOV tokens null") {
    val out = Vocabulary.resolveIds(tokensDF, "token", vocabDF)
      .collect().map(r => (r.getLong(r.fieldIndex("doc_id")),
        r.getString(r.fieldIndex("token")),
        Option(r.get(r.fieldIndex("tokenid"))))).toSet
    assert(out == Set(
      (0L, "cat", Some(7L)), (0L, "axolotl", None),
      (1L, "fish", Some(11L)), (1L, "dog", Some(3L)), (2L, "dog", Some(3L))))
  }
}
