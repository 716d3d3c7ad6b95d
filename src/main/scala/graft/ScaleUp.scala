package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-probe data generator: synthesize an N× copy of a testdata
  * directory by unioning N key-shifted replicas of each table, preserving
  * referential integrity within each replica (customer/orders/lineitem/
  * part/supplier key chains shift together). Time columns stay put — N×
  * the rows in the same window, the "more data, same period" read.
  *
  * Two tables get content DIVERSITY, not just new keys, so the dedup and
  * ANN families scale on realistic distributions instead of artifacts:
  *
  *   - documents: replica i of doc j = first half of doc j + second half
  *     of doc (j+i) mod D. Shingle overlap with either parent ≈ 1/3
  *     Jaccard — BELOW the near-dup thresholds, so replication does not
  *     manufacture dup clusters (identical copies would turn every doc
  *     into a 10-clique and the in-bucket pair counts quadratic).
  *   - embeddings: replica i perturbs each coordinate by a small
  *     deterministic dimension-dependent term — cluster geometry kept,
  *     exact ties broken.
  *
  *   runMain graft.ScaleUp /root/testdata/sf0.1 /tmp/sf1 10
  *
  * Optional 4th arg `fresh`: a REPLICA-FREE scale-up for the dedup-family
  * probes. The half-splice replicas above keep cross-replica Jaccard under
  * the near-dup thresholds, but the ORIGINAL corpus's built-in near-dup
  * pairs still replicate — pair MASS grows ~quadratically with the factor
  * (measured: q_edit_join's 904× true pairs at 10×), which conflates
  * "more pairs to verify" with "plan cost at more data". In fresh mode,
  * documents replicas i>0 get a deterministic per-(doc,replica) TOKEN
  * permutation (hash-sorted tokens: word 3-gram shingles, winnow/CDC
  * chunks, and edit-distance locality all collapse) and embeddings
  * replicas get a per-(vec,replica) COORDINATE permutation (cosine
  * structure collapses) — so near-dup pair mass stays ≈ the 1× corpus's
  * while the data is N×, and the dedup family's wall-vs-work curve is
  * separable.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val Array(src, dst, factorS) = args.take(3)
    val factor = factorS.toInt
    val fresh = args.lift(3).contains("fresh")
    // `dup` mode (round 13): a DUP-HEAVY corpus in the real-crawl regime
    // the exact-duplicate collapse was built for. replica/fresh modes
    // perturb every copy (199,992/200,000 distinct texts at sf4), so the
    // collapse arm never fired at scale — only its overhead was ever
    // measured. In dup mode each replica-i>0 row keeps its text VERBATIM
    // with probability 35% (deterministic per (doc, replica) hash), else
    // half-splices as replica mode does; at factor F the corpus is
    // ≈ 35·(F−1)/F % exact duplicates (26% at 4×, 31% at 8×) — the
    // 20-40% band reported for web crawls, and well past the 5% gate.
    // Embeddings mirror it (verbatim vs perturbed) for the exact-arm
    // twins.
    val dup = args.lift(3).contains("dup")
    val cpus = GraftSession.cpus()
    val spark = GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def read(t: String) = graft.sources.Sources.table(spark, src, t)
    // coalesce each table to a bounded file count: the N-replica union
    // otherwise lands ~N×(source files) per table, and every trivial
    // full-scan query then pays N× task/scan overhead that has nothing to
    // do with data volume (q_celsius measured 24× wall at 20× data purely
    // from the 20-file layout — SURVEY §7e-2). coalesce (no shuffle)
    // keeps generation cheap; 32 matches the bench session's parallelism.
    val outFiles = 32
    def write(df: DataFrame, t: String): Unit = {
      df.coalesce(outFiles).write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[scaleup] $t: ${graft.sources.Sources.table(spark, dst, t).count()} rows")
    }
    def stride(df: DataFrame, c: String): Long =
      df.agg(max(col(c).cast("long"))).head.getLong(0) + 1

    // dimension tables stay — N× the facts over the same dimensions
    write(read("region"), "region")
    write(read("nation"), "nation")

    val customer = read("customer")
    val supplier = read("supplier")
    val part = read("part")
    val orders = read("orders")
    val lineitem = read("lineitem")
    val events = read("events")
    val documents = read("documents")
    val embeddings = read("embeddings")

    val cK = stride(customer, "c_custkey")
    val sK = stride(supplier, "s_suppkey")
    val pK = stride(part, "p_partkey")
    val oK = stride(orders, "o_orderkey")
    val eK = stride(events, "event_id")
    val uK = stride(events, "user_id")
    val dK = stride(documents, "doc_id")
    val vK = stride(embeddings, "vec_id")

    def replicate(df: DataFrame)(shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => shift(df, i)).reduce(_ unionByName _)

    write(replicate(customer) { (df, i) =>
      df.withColumn("c_custkey", $"c_custkey" + lit(i * cK))
    }, "customer")
    write(replicate(supplier) { (df, i) =>
      df.withColumn("s_suppkey", $"s_suppkey" + lit(i * sK))
    }, "supplier")
    write(replicate(part) { (df, i) =>
      df.withColumn("p_partkey", $"p_partkey" + lit(i * pK))
    }, "part")
    write(replicate(orders) { (df, i) =>
      df.withColumn("o_orderkey", $"o_orderkey" + lit(i * oK))
        .withColumn("o_custkey", $"o_custkey" + lit(i * cK))
    }, "orders")
    write(replicate(lineitem) { (df, i) =>
      df.withColumn("l_orderkey", $"l_orderkey" + lit(i * oK))
        .withColumn("l_partkey", $"l_partkey" + lit(i * pK))
        .withColumn("l_suppkey", $"l_suppkey" + lit(i * sK))
    }, "lineitem")
    write(replicate(events) { (df, i) =>
      df.withColumn("event_id", $"event_id" + lit(i * eK))
        .withColumn("user_id", $"user_id" + lit(i * uK))
    }, "events")

    // documents: half-splice against a rotating partner for shingle
    // diversity (see scaladoc); replica 0 is the original corpus.
    // fresh mode instead hash-permutes each replica's tokens — a
    // deterministic per-(doc, replica) shuffle that destroys every
    // adjacency-based similarity (3-gram shingles, winnowing, CDC
    // chunks, edit locality), so replication adds DATA without adding
    // near-dup PAIRS.
    val partner = documents.select($"doc_id".as("_pid"), $"text".as("_ptext"))
    write(replicate(documents) { (df, i) =>
      if (i == 0) df
      else if (fresh) {
        // the permutation key MUST include the token's position: keyed on
        // the token alone, every occurrence of a repeated word gets the
        // same key and hash-sort clusters them into runs ("the the the")
        // — universal 3-gram shingles shared by every doc, which turns
        // the posting joins into n² (measured: q_dedup_containment wedged
        // at sf1f until this was position-keyed)
        df.withColumn("text",
            array_join(
              transform(
                array_sort(transform(split($"text", " "),
                  (t, p) => struct(
                    xxhash64(t, p, $"doc_id", lit(i)).as("k"), t.as("v")))),
                s => s.getField("v")),
              " "))
          .withColumn("doc_id", $"doc_id" + lit(i * dK))
          .withColumn("n_chars", length($"text").cast("long"))
      } else {
        val spliced = df
          .withColumn("_pid", pmod($"doc_id" + lit(i), lit(dK)))
          .join(partner, "_pid")
          .withColumn("_splice",
            concat(
              substring($"text", lit(1), (length($"text") / 2).cast("int")),
              lit(" "),
              substring($"_ptext",
                (length($"_ptext") / 2).cast("int") + 1, lit(1 << 24))))
          // dup mode: keep the text verbatim for a deterministic 35% of
          // (doc, replica) slots — exact duplicates of replica 0's row —
          // and splice the rest, so the corpus mixes real dup cliques
          // with the usual diversity
          .withColumn("text",
            if (dup)
              when(pmod(xxhash64($"doc_id", lit(i)), lit(100)) < 35, $"text")
                .otherwise($"_splice")
            else $"_splice")
          .drop("_pid", "_ptext", "_splice")
        spliced
          .withColumn("doc_id", $"doc_id" + lit(i * dK))
          .withColumn("n_chars", length($"text").cast("long"))
      }
    }, "documents")

    write(replicate(embeddings) { (df, i) =>
      if (i == 0) df
      else if (fresh)
        // coordinate permutation keyed by (vec, replica): same value
        // distribution, cosine structure with every parent collapses
        df.withColumn("vec_id", $"vec_id" + lit(i * vK))
          .withColumn("embedding",
            // empty-array guard: sequence(0, -1) is a DESCENDING sequence
            // and element_at(..., 0) throws — one degenerate row must not
            // fail the whole scale-up job
            when(size($"embedding") > 0,
              transform(
                array_sort(transform(sequence(lit(0), size($"embedding") - 1),
                  d => struct(xxhash64(d, $"vec_id", lit(i)).as("k"),
                    element_at($"embedding", d + 1).as("v")))),
                s => s.getField("v"))).otherwise($"embedding"))
      else {
        val perturbed =
          zip_with($"embedding",
            transform(sequence(lit(0), size($"embedding") - 1),
              d => d.cast("float")),
            (x, d) => x * (lit(1.0f) + lit(0.002f * i)) +
              lit(0.001f * i) * pmod(d, lit(5.0f)))
        // dup mode: verbatim vectors on the same 35% slot rule — exact-
        // duplicate twins for the embedding dedup arms. The slot hash
        // MUST read the PRE-shift vec_id (the embedding withColumn runs
        // before the vec_id shift below), matching the text branch's
        // (doc, replica) rule — the r13 shape shifted first and hashed
        // the shifted id, so the verbatim slots were uncorrelated
        // between documents and embeddings
        df.withColumn("embedding",
            if (dup)
              when(pmod(xxhash64($"vec_id", lit(i)), lit(100)) < 35,
                $"embedding").otherwise(perturbed)
            else perturbed)
          .withColumn("vec_id", $"vec_id" + lit(i * vK))
      }
    }, "embeddings")

    println(s"SCALEUP_DONE factor=$factor dst=$dst")
    spark.stop()
  }
}
