package graft

import org.apache.spark.sql.functions._

import graft.llm.{Bpe, TextOps}

/** The engine's one BPE tokenizer ([[graft.llm.Bpe]]):
  * leftmost-non-overlap merge semantics (every non-overlapping site of
  * a merge fires in one pass), deterministic tie-breaks, early
  * exhaustion, word-frequency pair weighting from a text corpus, the
  * census-weighting equivalence with TextOps.charPairCounts (the
  * "step one" gate), and encode counts.
  */
class BpeSpec extends SparkTestBase {
  import spark.implicits._

  private def syms(word: String, lhs: String, rhs: String): Seq[String] =
    Seq(word).toDF("w")
      .select(Bpe.applyMerge(Bpe.charSymbols(col("w")), lhs, rhs).as("s"))
      .as[Seq[String]].head()

  test("applyMerge is leftmost non-overlapping") {
    assert(syms("aaa", "a", "a") == Seq("aa", "a"))
    assert(syms("aaaa", "a", "a") == Seq("aa", "aa"))
    assert(syms("abab", "a", "b") == Seq("ab", "ab"))
    assert(syms("ababab", "a", "b") == Seq("ab", "ab", "ab"))
    assert(syms("abc", "b", "c") == Seq("a", "bc"))
    assert(syms("abc", "x", "y") == Seq("a", "b", "c"))
    assert(syms("a", "a", "a") == Seq("a"))
  }

  test("trainMerges: hand-computed merge sequence, ties, exhaustion") {
    val words = Seq(("abab", 10L), ("aaa", 5L), ("ab", 3L), ("c", 7L))
      .toDF("word", "cnt")
    val (merges, vocab) = Bpe.trainMerges(words, k = 12)
    // iter1: (a,b)=23, (b,a)=10, (a,a)=10 -> (a,b)
    // iter2: (ab,ab)=10, (a,a)=10 tie -> lhs asc: (a,a)
    // iter3: (ab,ab)=10, (aa,a)=5 -> (ab,ab)
    // iter4: (aa,a)=5 -> aaa fused; then no pairs anywhere -> stop at 4
    assert(merges.map(m => (m.lhs, m.rhs, m.pairCount)) ==
      Seq(("a", "b", 23L), ("a", "a", 10L), ("ab", "ab", 10L), ("aa", "a", 5L)))
    val finalSyms = vocab.select("word", "syms").as[(String, Seq[String])]
      .collect().toMap
    assert(finalSyms("abab") == Seq("abab"))
    assert(finalSyms("aaa") == Seq("aaa"))
    assert(finalSyms("ab") == Seq("ab"))
    assert(finalSyms("c") == Seq("c"))
    // From text: census abab x4, ab x2, aaa x1, xy x1.
    // iter1: (a,b)=4*2+2=10, (b,a)=4, (a,a)=2 -> (a,b)
    // iter2: (ab,ab)=4, (a,a)=2, (x,y)=1 -> (ab,ab)
    val docs = Seq("abab abab abab ab ab aaa", "abab xy").toDF("text")
    val (fromText, _) = Bpe.trainMerges(Bpe.wordCensus(docs), k = 2)
    assert(fromText.map(m => (m.lhs, m.rhs, m.pairCount)) ==
      Seq(("a", "b", 10L), ("ab", "ab", 4L)))
  }

  test("rank-1 merge agrees with charPairCounts (the step-one gate)") {
    val docs = Seq("ab ab aaa cd", "ab cd cd x").toDF("text")
    val (merges, _) = Bpe.trainMerges(Bpe.wordCensus(docs), k = 1)
    val top = TextOps.charPairCounts(docs)
      .orderBy(desc("cnt"), col("pair")).limit(1)
      .as[(String, Long)].head()
    // census-weighted adjacent-pair totals equal the per-occurrence
    // count: both see (a,b) x3 = (c,d) x3 -> tie broken "ab" < "cd"
    assert(merges.head.merged == top._1 && merges.head.pairCount == top._2)
  }

  test("charSymbols maps '' to [] (sequence(1,0) would step DOWN)") {
    val got = Seq("").toDF("w")
      .select(Bpe.charSymbols(col("w")).as("s")).as[Seq[String]].head()
    assert(got == Seq.empty)
  }

  test("encodeDocs: out-of-vocab words fall back to char symbols") {
    // vocab trained WITHOUT the words of doc 1 — the ingest shape where
    // new data arrives after the nightly train. "zq" (2 chars) and
    // "xyz" (3 chars) must count as char tokens, not vanish.
    val train = Seq((0L, "abab ab")).toDF("doc_id", "text")
    val (_, vocab) = Bpe.trainMerges(Bpe.wordCensus(train), k = 1)
    val got = Bpe.encodeDocs(
        Seq((1L, "ab zq xyz")).toDF("doc_id", "text"), vocab)
      .as[(Long, Long, Long)].head()
    assert(got == ((1L, 3L, 1L + 2L + 3L)))
  }

  test("encodeDocs: per-doc token counts under the trained vocab") {
    val docs = Seq((0L, "abab ab c"), (1L, "aaa abab")).toDF("doc_id", "text")
    val (_, vocab) = Bpe.trainMerges(Bpe.wordCensus(docs), k = 2)
    // census: abab x2, ab x1, c x1, aaa x1
    // iter1 pairs: (a,b)=2*2+1=5, (b,a)=2, (a,a)=2 -> merge ab
    //   abab->[ab,ab], ab->[ab]
    // iter2 pairs: (ab,ab)=2, (a,a)=2 tie -> lhs "a" wins -> merge aa
    //   aaa->[aa,a]
    val got = Bpe.encodeDocs(docs, vocab).orderBy("doc_id")
      .as[(Long, Long, Long)].collect().toSeq
    // doc0: words abab(2 toks) ab(1) c(1) = 3 words, 4 tokens
    // doc1: aaa(2) abab(2) = 2 words, 4 tokens
    assert(got == Seq((0L, 3L, 4L), (1L, 2L, 4L)))
  }
}
