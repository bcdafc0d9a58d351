package graft.functions

import org.apache.spark.sql.{Column, SparkSession}

/** Unified tokenizer-artifact dispatch (r16 verdict #1c): a pipeline or
  * stream selects its tokenizer FAMILY by pointing at an artifact path —
  * the on-disk layout identifies the family, the returned [[Tok]] hides
  * it. Both families honor the same three-method contract a curation
  * stack needs:
  *
  *  - `nTokens(text)`: the artifact-denominated token count (what the
  *    mixture budget, the minTokens gate and the packing coordinates
  *    mean by "tokens");
  *  - `encodeIds(text)`: the id stream a TRAINING FILE stores —
  *    decodable by construction, open-vocabulary (byte fallback), so
  *    day-2 text can never emit a sentinel or kill a trigger;
  *  - `decodeIds(ids)`: the exact inverse (word-model text for the
  *    marked families, byte-exact text for faithful BPE).
  *
  * Artifact layouts (each family keeps its own save/load with its own
  * loud validation — this object only DISPATCHES):
  *  - BPE ([[Bpe.saveTokenizer]]): `$path/{merges,vocab,meta}`;
  *  - unigram ([[UnigramLm.save]]): `$path/{unigram_pieces,unigram_meta}`.
  * The two are disjoint by construction, so detection is one
  * existence probe, and a path holding BOTH fails loudly (a mixed
  * directory is a deployment bug, not a choice). */
object Tokenizers {

  /** A loaded tokenizer of either family, ready to encode/decode. */
  sealed trait Tok {
    /** "bpe" or "unigram" — for logs and artifact audits. */
    def family: String
    /** Tokenizer-faithful token count of `text` (null → 0). */
    def nTokens(text: Column): Column
    /** The decodable open-vocabulary id stream of `text` — what
      * pack_ids / the streaming packed-id sink store. */
    def encodeIds(text: Column): Column
    /** Inverse of [[encodeIds]]. */
    def decodeIds(ids: Column): Column
  }

  final case class BpeTok(t: Bpe.Tokenizer) extends Tok {
    def family: String = "bpe"
    def nTokens(text: Column): Column =
      Bpe.tokenCount(text, t.merges, t.faithful)
    def encodeIds(text: Column): Column =
      if (t.faithful) Bpe.tokenIdsFaithful(text, t.merges, t.vocab)
      else Bpe.tokenIdsMarked(text, t.merges, t.vocab)
    def decodeIds(ids: Column): Column =
      if (t.faithful) Bpe.decodeIdsFlat(ids, t.vocab)
      else Bpe.decodeIds(ids, t.vocab)
  }

  final case class UnigramTok(model: UnigramLm.Model) extends Tok {
    def family: String = "unigram"
    def nTokens(text: Column): Column = UnigramLm.pieceCount(text, model)
    def encodeIds(text: Column): Column =
      if (model.faithful) UnigramLm.tokenIdsFaithful(text, model)
      else UnigramLm.tokenIdsMarked(text, model)
    def decodeIds(ids: Column): Column =
      if (model.faithful) UnigramLm.decodeIdsFlat(ids, model)
      else UnigramLm.decodeIds(ids, model)
  }

  /** Load a tokenizer artifact of EITHER family from `path`, detected
    * by layout. It insists the artifact can encode day-2 text: a BPE
    * artifact must carry the byte-fallback vocabulary (the
    * [[Bpe.vocabBytesFrom]] reserved block); a unigram artifact is
    * always open ([[UnigramLm.tokenIdsMarked]] builds the byte layout
    * from the model at load — there is no closed on-disk variant). */
  def load(spark: SparkSession, path: String): Tok = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasUnigram =
      fs.exists(new org.apache.hadoop.fs.Path(path, "unigram_meta"))
    val hasBpe = fs.exists(new org.apache.hadoop.fs.Path(path, "merges"))
    require(!(hasUnigram && hasBpe),
      s"tokenizer path $path holds BOTH a unigram and a BPE artifact — " +
        "a mixed directory is a deployment bug; ship one artifact per path")
    if (hasUnigram) UnigramTok(UnigramLm.load(spark, path))
    else {
      val t = Bpe.loadTokenizer(spark, path)
      require(t.vocab.exists(_._1.startsWith("\u0002")),
        s"tokenizer artifact at $path has a CLOSED vocabulary — " +
          "deployment needs the open byte-fallback layout (vocabBytes / " +
          "vocabMarkedBytes): day-2 batches WILL contain code points the " +
          "training corpus lacked")
      BpeTok(t)
    }
  }
}
