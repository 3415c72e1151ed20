package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** WordPiece-style greedy longest-match-first tokenization (Wu et al.
  * 2016's inference rule, on a frequency-built piece inventory) — the
  * third tokenizer family next to BPE merge application (q_bpe_tokenize:
  * lowest-rank merge loop) and unigram-LM Viterbi (q_phrase_segment:
  * global-optimum DP). Greedy longest-match is what WordPiece/BERT
  * vocabularies run at inference: at each position take the LONGEST
  * inventory piece, advance, repeat; single characters are always in
  * the inventory, so progress is guaranteed and no <unk> is needed.
  *
  * Inventory: all single characters plus every 2..4-char substring with
  * corpus occurrence weight ≥ `MinCount` (weight = word frequency —
  * computed on the DISTINCT-WORD frame with counts, so the pass is
  * vocabulary-bounded, not corpus-bounded).
  *
  * The scalable trick: the greedy choice at position p is INDEPENDENT
  * of how the walk got there, so the per-word sequential walk is really
  * the path of the jump function next(p) = p + bestLen(p) from p = 1 —
  * and bestLen for ALL positions is ONE equi-join + argmax (no
  * iteration). Path reconstruction is pointer DOUBLING over next
  * (J_{2^{k+1}} = J_{2^k} ∘ J_{2^k} with saturation), then the
  * reachable-set accumulation R ← R ∪ J_{2^k}(R) for k = K..0 —
  * O(log maxWordLen) rounds of vocabulary-bounded joins instead of a
  * per-character loop. The oracle walks the SAME greedy rule by direct
  * recursion (piece choice = a 4-way LEFT-JOIN COALESCE chain, longest
  * first) — two independent algorithms that must agree path-for-path.
  *
  * Words are truncated to `MaxLen` chars (the tokenizer-eval window
  * convention; also bounds the doubling depth at ceil(log2(MaxLen))).
  * Everything is exact string/integer algebra — no floats anywhere.
  */
object WordPiece {

  val MaxLen = 24
  val MinCount = 50L
  private val K = 5 // 2^(K+1)-1 = 63 >= MaxLen jumps

  /** (word, n_occurrences, n_pieces, seg) for every distinct truncated
    * word of `docs` (doc_id, text); seg = pieces joined by '|'.
    */
  def run(docs: DataFrame): DataFrame = {
    val words = Iterate.materialize(docs
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .select(expr(s"substr(tok, 1, $MaxLen)").as("w"))
      .groupBy("w").agg(count(lit(1)).as("c")))

    val gr2 = words
      .select(col("w"), col("c"), explode(expr("array(2, 3, 4)")).as("l"))
      .filter(length(col("w")) >= col("l"))
      .select(col("w"), col("c"), col("l"),
        explode(expr("sequence(1, length(w) - l + 1)")).as("p"))
      .select(expr("substr(w, p, l)").as("g"), col("c"))
    val v24 = gr2.groupBy("g").agg(sum(col("c")).as("gc"))
      .filter(col("gc") >= MinCount).select("g")
    val v1 = words
      .select(col("w"), explode(expr("sequence(1, length(w))")).as("p"))
      .select(expr("substr(w, p, 1)").as("g")).distinct()
    val vocab = Iterate.materialize(v24.union(v1).distinct())

    // bestLen for every (word, position): one explode + one semi-join +
    // one argmax — position-independent, so no walk is needed to rank
    val best = Iterate.materialize(words
      .select(col("w"), explode(expr("sequence(1, length(w))")).as("p"))
      .select(col("w"), col("p"), explode(expr("array(1, 2, 3, 4)")).as("l"))
      .filter(expr("p + l - 1 <= length(w)"))
      .withColumn("sub", expr("substr(w, p, l)"))
      .join(vocab, col("sub") === vocab("g"), "left_semi")
      .groupBy("w", "p").agg(max(col("l")).as("bl")))

    // jump tables J_{2^k}; saturation: a jump past the end keeps its
    // landing position (no row to compose with)
    var jumps = List(Iterate.materialize(
      best.select(col("w"), col("p"), (col("p") + col("bl")).as("np"))))
    for (_ <- 1 to K) {
      val j = jumps.head
      val b = j.select(col("w").as("bw"), col("p").as("bp"),
        col("np").as("bnp"))
      jumps ::= Iterate.materialize(
        j.join(b, col("w") === col("bw") && col("np") === col("bp"), "left")
          .select(col("w"), col("p"), coalesce(col("bnp"), col("np")).as("np")))
    }
    // jumps = J_{2^K} :: ... :: J_1; accumulate R ← R ∪ J(R), K..0
    var reach = words.select(col("w"), lit(1).as("p"))
    for (j <- jumps) {
      val jj = j.select(col("w").as("jw"), col("p").as("jp"),
        col("np").as("jnp"))
      reach = Iterate.materialize(
        reach.union(
          reach.join(jj,
            col("w") === col("jw") && col("p") === col("jp"))
            .select(col("w"), col("jnp").as("p")))
          .distinct())
    }

    reach.join(best, Seq("w", "p"))
      .withColumn("piece", expr("substr(w, p, bl)"))
      .groupBy("w")
      .agg(count(lit(1)).as("n_pieces"),
        expr("array_join(transform(array_sort(collect_list(" +
          "struct(p, piece))), x -> x.piece), '|')").as("seg"))
      .join(words, "w")
      .select(col("w").as("word"), col("c").as("n_occurrences"),
        col("n_pieces"), col("seg"))
  }

  /** DuckDB twin over `documents`: the same inventory, then the greedy
    * rule by DIRECT recursion — longest-first piece choice as a 4-way
    * LEFT-JOIN COALESCE chain (no aggregate in the recursive term).
    * Ends selecting (word, n_occurrences, n_pieces, seg).
    */
  def oracleSql(): String =
    s"""wp_words AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
       |    SELECT substr(tok, 1, $MaxLen) AS w FROM (
       |      SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
       |    WHERE tok <> '')
       |  GROUP BY w
       |), wp_gr AS (
       |  SELECT substr(w, CAST(p AS INTEGER), CAST(l AS INTEGER)) AS g, c
       |  FROM wp_words,
       |       (SELECT unnest(range(1, ${MaxLen + 1})) AS p),
       |       (SELECT unnest([2, 3, 4]) AS l)
       |  WHERE p + l - 1 <= len(w)
       |), wp_v24 AS (
       |  SELECT g FROM wp_gr GROUP BY g HAVING sum(c) >= $MinCount
       |), wp_v1 AS (
       |  SELECT DISTINCT substr(w, CAST(p AS INTEGER), 1) AS g
       |  FROM wp_words, (SELECT unnest(range(1, ${MaxLen + 1})) AS p)
       |  WHERE p <= len(w)
       |), wp_vocab AS MATERIALIZED (
       |  SELECT g FROM wp_v24 UNION SELECT g FROM wp_v1
       |), wp_walk(w, pos, k, piece) AS (
       |  SELECT w, CAST(1 AS BIGINT), CAST(0 AS BIGINT),
       |    CAST(NULL AS VARCHAR)
       |  FROM wp_words
       |  UNION ALL
       |  SELECT s.w, s.pos + len(s.pc), s.k + 1, s.pc FROM (
       |    SELECT d.w, d.pos, d.k,
       |      COALESCE(p4.g, p3.g, p2.g, p1.g) AS pc
       |    FROM wp_walk d
       |    LEFT JOIN wp_vocab p4 ON d.pos + 3 <= len(d.w)
       |      AND p4.g = substr(d.w, CAST(d.pos AS INTEGER), 4)
       |    LEFT JOIN wp_vocab p3 ON d.pos + 2 <= len(d.w)
       |      AND p3.g = substr(d.w, CAST(d.pos AS INTEGER), 3)
       |    LEFT JOIN wp_vocab p2 ON d.pos + 1 <= len(d.w)
       |      AND p2.g = substr(d.w, CAST(d.pos AS INTEGER), 2)
       |    LEFT JOIN wp_vocab p1
       |      ON p1.g = substr(d.w, CAST(d.pos AS INTEGER), 1)
       |    WHERE d.pos <= len(d.w)
       |  ) s
       |), wp_pieces AS MATERIALIZED (
       |  SELECT w, k, piece FROM wp_walk WHERE k >= 1
       |)
       |SELECT wd.w AS word, wd.c AS n_occurrences,
       |  CAST(count(*) AS BIGINT) AS n_pieces,
       |  string_agg(pc.piece, '|' ORDER BY pc.k) AS seg
       |FROM wp_pieces pc JOIN wp_words wd ON wd.w = pc.w
       |GROUP BY wd.w, wd.c""".stripMargin
}
