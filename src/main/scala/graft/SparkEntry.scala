package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Transcripts
import graft.corpus.Vocab
import graft.dedup.Dedup
import graft.extract.Extract
import graft.route.Router
import graft.scale.Scale
import graft.score.Scorer
import graft.sim.Ann
import graft.text.Normalize
import graft.textstats.TextStats

/** Driver contract — one [[Gate]] per implemented operator from SURVEY.md
  * §2 in [[gates]]: its engine build and its DuckDB oracle. Only the two
  * exported fits (q60's word vectors, q65's LSA/PCA model) have no oracle;
  * the oracles of q61, q44 and q49 replay from their exports.
  * [[queries]] and [[oracleSql]] are the by-name views of that one list.
  *
  * Column-name contract: every computed column is aliased identically in the
  * Spark plan and the oracle SQL — the driver sorts columns by name before
  * hashing. Floating-point outputs are rounded in BOTH engines so ULP-level
  * accumulation-order differences can't flip the hash; money columns are
  * `round(x, 2)` DOUBLE in both engines (NOT DECIMAL — trailing-zero cents
  * render differently between Spark DECIMAL and the driver's float64
  * path), and DuckDB `sum(CASE…)` counts are CAST to BIGINT
  * (DuckDB sums integers into HUGEINT, which hash-mismatches Spark's LONG).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. Runs the full
    * extraction kernel over the documents-derived transcript corpus. */
  def entry(spark: SparkSession): DataFrame =
    Extract.pipeline(Transcripts.fromDocuments(spark, "/root/testdata/sf0.001"))

  // ------------------------------------------------------------------------
  // shared fragments
  // ------------------------------------------------------------------------

  /** Tokenized documents: doc_id + token array through the P1–P8 pipeline.
    * The corpus is clean lowercase prose, so the oracle only needs the
    * whitespace-split + filter chain (validated at build time). */
  private def docTokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      Normalize.pipeline(col("text")).as("tokens"))

  /** Oracle-side equivalent of Normalize.pipeline for the documents corpus:
    * tokens = whitespace split of lower(strip punct/digits), len in [3,15),
    * no triple-letter runs, minus the default stoplist. */
  private val OracleStops =
    Normalize.DefaultStops.map(sw => s"'$sw'").mkString("[", ", ", "]")

  /** q83's target mixture (lang → ppm share, sums to 10⁶): rebalance the
    * en-heavy corpus to an explicit 40/15/15/15/15 split. SHARED by the
    * engine query and its GENERATED oracle SQL (the q79 pattern). */
  private val MixTargetPpm: Seq[(String, Long)] = Seq(
    "en" -> 400000L, "de" -> 150000L, "es" -> 150000L,
    "fr" -> 150000L, "zh" -> 150000L)
  // DuckDB regexes are RE2: no backreferences — spell the triple-repeat
  // filter as the explicit 26-triple alternation (exactly the scan the
  // reference performs, modules/main_corpus_processing.py:46-47).
  /** Orders per status F/O/P as BIGINT counts n_f, n_o, n_p (q08's pivot
    * and q41's product). */
  private val OracleStatusCounts = Seq("F", "O", "P").map { st =>
    s"CAST(sum(CASE WHEN o_orderstatus = '$st' THEN 1 ELSE 0 END) AS BIGINT) AS n_${st.toLowerCase}"
  }.mkString(",\n           ")

  /** q41's data-product aggregate — ALSO q62's oracle (the CSV round-trip
    * must reproduce the product exactly), kept as ONE string so the two
    * gates cannot drift. */
  private val OracleDataProduct =
    s"""SELECT n_name, $OracleStatusCounts,
           round(sum(o_totalprice), 2) AS total
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY 1"""

  private val OracleTriples = ('a' to 'z').map(c => s"$c$c$c").mkString("|")

  /** q55's upper-bracket margin over ln(vocabSize): MLlib's logPerplexity is
    * −ELBO/N, and the ELBO pays KL penalties (doc-topic and topic-matrix
    * Dirichlet terms) a plugin likelihood doesn't — so the reported value
    * legitimately sits a little ABOVE the uniform-model ln(V) ceiling.
    * Measured (2026-08-17): lp − ln(V) ≈ +0.035 at sf0.001/sf0.01, +0.044
    * at sf0.1; lp − pluginCE ≈ +0.07..+0.10 everywhere. Margin 1.0 keeps
    * ≥20× headroom over the measured excess while still rejecting any fit
    * that does materially worse than uniform. */
  private val Q55UpperMargin = 1.0

  /** q77's hash-min round count — must cover the largest component
    * diameter in the q51 near-dup graph at every gated sf (the engine
    * `require`s the fixpoint; the oracle unrolls exactly this many
    * rounds). */
  private val CcIters = 6

  /** The q77 oracle's unrolled hash-min rounds, generated from [[CcIters]]
    * so engine and SQL can never disagree on the round count: round i
    * computes per-node neighbour-min over round i−1's labels and takes the
    * elementwise min. */
  private val OracleCcRounds: String =
    (1 to CcIters).map { i =>
      s"""n$i AS (SELECT e.src AS vec_id, min(l.c) AS m
           FROM sym e JOIN l${i - 1} l ON l.vec_id = e.dst GROUP BY 1),
         l$i AS (SELECT l.vec_id, least(l.c, coalesce(n.m, l.c)) AS c
           FROM l${i - 1} l LEFT JOIN n$i n USING (vec_id))"""
    }.mkString(",\n         ")

  /** The q79 oracle, generated from [[graft.textstats.TextStats
    * .RedactionRules]] — same patterns, same order, same
    * count-on-current-text semantics; only the regex engine differs (RE2
    * vs Java), which the rules are constructed to make irrelevant. */
  private val OracleRedactSql: String = {
    val rules = graft.textstats.TextStats.RedactionRules
    val chain = rules.zipWithIndex.map { case ((name, re, repl), i) =>
      val carried = rules.take(i).map(r => s"n_${r._1}").map(n => s", $n")
        .mkString
      s"""r${i + 1} AS (SELECT doc_id,
           regexp_replace(t$i, '$re', '$repl', 'g') AS t${i + 1},
           CAST(len(regexp_extract_all(t$i, '$re')) AS BIGINT) AS n_$name$carried
         FROM r$i)"""
    }.mkString(",\n         ")
    val lastT = s"t${rules.size}"
    val countCols = rules.map(r => s"n_${r._1}").mkString(", ")
    s"""WITH r0 AS (SELECT doc_id,
           'contact a' || doc_id || '@ex' || (doc_id % 7) || '.com ip 10.0.'
           || (doc_id % 256) || '.' || (doc_id % 100)
           || ' key ' || lpad(hex(doc_id * 2654435761), 32, '0')
           || ' acct ' || lpad(CAST(doc_id AS VARCHAR), 9, '0')
           || ' ' || text AS t0
         FROM documents),
         $chain
         SELECT doc_id, $lastT AS text, $countCols FROM r${rules.size}"""
  }
  /** The P2–P7 chain over an arbitrary text EXPRESSION — parameterized so
    * q67 can feed it the P1-folded text (`translate(...)`), while every
    * ASCII-corpus query keeps the bare `text` spelling via [[OracleTokens]]
    * (there the fold is identity). */
  private def oracleTokensOf(textExpr: String) =
    s"""list_filter(
         string_split_regex(lower(regexp_replace(regexp_replace($textExpr, '[[:punct:]]', '', 'g'), '[0-9\\n\\r]', '', 'g')), '\\s+'),
         tk -> length(tk) >= 3 AND length(tk) < 15
               AND NOT regexp_matches(tk, '$OracleTriples')
               AND NOT list_contains($OracleStops, tk))"""
  private val OracleTokens = oracleTokensOf("text")

  /** P4 fixture lexicon: token → (lemma, POS) over corpus-attested tokens.
    * ADJ entries exercise the allowlist drop; agg/dup exercise the lemma
    * rewrite. The q43 oracle hand-compiles exactly this table. */
  private val PosLexicon: Map[String, (String, String)] = Map(
    "scan" -> ("scan", "VERB"), "merge" -> ("merge", "VERB"),
    "agg" -> ("aggregate", "VERB"), "dup" -> ("duplicate", "NOUN"),
    "table" -> ("table", "NOUN"),
    "fast" -> ("fast", "ADJ"), "slow" -> ("slow", "ADJ"),
    "big" -> ("big", "ADJ"), "small" -> ("small", "ADJ"))

  // ------------------------------------------------------------------------
  // session artifacts
  // ------------------------------------------------------------------------

  /** One shared artifact: a value built on the first [[get]], exactly once,
    * and the function that frees what the build left behind (a persisted
    * frame, a checkpoint RDD, nothing for a driver-side fit). The build runs
    * under the holder's own lock, never the registry map's, so one
    * artifact's build may read another. A failed build leaves the holder
    * unbuilt; the next [[get]] retries it. */
  private final class Artifact[A](build: () => A, release: A => Unit) {
    private var built: Option[A] = None
    def get: A = synchronized {
      built.getOrElse { val a = build(); built = Some(a); a }
    }
    def free(): Unit = synchronized { built.foreach(release); built = None }
  }

  /** Every artifact the queries share, keyed (session, sf dir, name). The
    * paper's workflow fits each model and dictionary once per corpus and
    * reuses it for every downstream read (the reference keeps one
    * `LdaMulticore` object for all of them); here a session builds each
    * once per sf and [[releaseShared]] frees them all. */
  private val artifacts = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), Artifact[_]]()

  /** `name`'s artifact for (s, dir), built by `build` on first use and freed
    * by `release` in [[releaseShared]]. `computeIfAbsent` only inserts the
    * unbuilt holder: a mapping function must not touch its own map. */
  private def artifact[A](s: SparkSession, dir: String, name: String)(
      build: => A)(release: A => Unit): A =
    artifacts.computeIfAbsent((s, dir, name),
        _ => new Artifact[A](() => build, release))
      .asInstanceOf[Artifact[A]].get

  /** Free every shared artifact `s` holds: persisted frames, checkpoint
    * RDDs and fits. A long-lived session would otherwise keep them for its
    * lifetime; Verify calls this once its query sweep is done. */
  def releaseShared(s: SparkSession): Unit =
    artifacts.entrySet().removeIf { e =>
      (e.getKey._1 eq s) && { e.getValue.free(); true }
    }: Unit

  /** A result frame other queries (or their own convergence checks)
    * re-consume: the three ANN paths (q72's recall and q73's curve read all
    * three), the IVF corpus assignment, the LDA doc-topic matrix, q41's
    * product and the curation stages. The frames are small; what is saved
    * is the corpus work behind each. Materialized by an eager
    * localCheckpoint, not persist(): persist only dedupes execution, while
    * each consumer would still re-analyze the frame's full logical tree.
    * The checkpoint truncates the plan to the materialized rows. */
  private def sharedResult(s: SparkSession, dir: String, name: String)
                          (build: => DataFrame): DataFrame =
    artifact(s, dir, name)(build.localCheckpoint())(Scale.unpersistCheckpoint)

  /** Per-document term frequencies, persisted: the one aggregate the
    * vocab/BOW/tf-idf tier derives everything from. Its df and bow branches
    * form a plan diamond Catalyst cannot share (column pruning makes the
    * two shuffles non-identical, so exchange reuse never fires), so the
    * tokenize+explode subtree runs once per session here. */
  private def docTermCounts(s: SparkSession, dir: String): DataFrame =
    artifact(s, dir, "termCounts")(
      Vocab.termCounts(Vocab.tokensLong(docTokens(s, dir), "doc_id", "tokens"), "doc_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))(
      _.unpersist())

  /** The one pruned dictionary (vocab, nDocs, vocabSize) that q14–q16 and
    * the LDA and LSA tiers read. The vocab is keepN-capped and
    * checkpointed, so the df-stats aggregation and ranking window behind it
    * run once per session. */
  private def vocabInfo(s: SparkSession, dir: String): (DataFrame, Long, Int) =
    artifact(s, dir, "vocab") {
      val n = t(s, dir, "documents").count()
      val vocab = Vocab.buildFromCounts(docTermCounts(s, dir), n, noBelow = 2,
        noAbove = 0.9).localCheckpoint()
      (vocab, n, vocab.count().toInt)
    }(v => Scale.unpersistCheckpoint(v._1))

  /** Per-doc sparse BOW vectors for the LDA tier (q52/q55/q56) — derived
    * from the shared term-count materialization and the shared dictionary. */
  private def ldaFeatures(s: SparkSession, dir: String): DataFrame = {
    val (vocab, _, vocabSize) = vocabInfo(s, dir)
    graft.ml.Lda.assemble(
      Vocab.bowFromCounts(docTermCounts(s, dir), vocab, "doc_id"),
      "doc_id", vocabSize)
  }

  /** The one fitted topic model that q52, q55 and q56 read, with its
    * features frame. The frame is left unpersisted: MLlib's LDA then caches
    * the vectors it converts for the fit's iterative passes itself, and
    * frees them when the fit returns. */
  private def ldaFitted(s: SparkSession, dir: String)
      : (org.apache.spark.ml.clustering.LDAModel, DataFrame) =
    artifact(s, dir, "lda") {
      val features = ldaFeatures(s, dir)
      (graft.ml.Lda.fit(features, k = 5), features)
    }(_ => ())

  /** The one LSA fit that q44 (the projection), q49 (PCA over it) and the
    * q65/q66 model exports read: the persisted docs × k frame and the V
    * matrix the q44 replay oracle consumes via q65's export. */
  private def lsaModel(s: SparkSession, dir: String)
      : (DataFrame, org.apache.spark.mllib.linalg.Matrix) =
    artifact(s, dir, "lsa") {
      val (vocab, n, vocabSize) = vocabInfo(s, dir)
      val tfidf = Vocab.tfidfFromCounts(docTermCounts(s, dir), vocab, "doc_id", n)
      graft.ml.Lsa.projectModel(tfidf, "doc_id", "tfidf", vocabSize, k = 5)
    }(_._1.unpersist())

  private def lsaProjection(s: SparkSession, dir: String): DataFrame =
    lsaModel(s, dir)._1

  /** The one PCA fit that q49 (the 2-D projection) and q65 (the exported
    * component matrix q49's replay oracle reads) both read — they MUST
    * read the same fit, exactly the q60/q61 sharing contract. */
  private def pcaFitted(s: SparkSession, dir: String)
      : org.apache.spark.ml.feature.PCAModel =
    artifact(s, dir, "pca") {
      import org.apache.spark.ml.feature.PCA
      import org.apache.spark.ml.functions.array_to_vector
      new PCA().setK(2).setInputCol("features").setOutputCol("pc")
        .fit(lsaProjection(s, dir)
          .withColumn("features", array_to_vector(col("projection"))))
    }(_ => ())

  /** The full-precision PCA projection (doc_id, pc: Array[Double]) — ONE
    * spelling consumed by BOTH q49 (which emits it at FULL precision) and
    * q65's 'pcproj' export (which the q49 oracle echoes): the transform is
    * deterministic row math, so the exported doubles are bit-identical to
    * the ones q49 emits. Nothing on this path rounds, which keeps the
    * echo-with-tolerance oracle flake-free. */
  private def pcaProjection(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    val lsa = lsaProjection(s, dir)
      .withColumn("features", array_to_vector(col("projection")))
    pcaFitted(s, dir).transform(lsa)
      .select(col("doc_id"), vector_to_array(col("pc")).as("pc"))
  }

  /** The one seeded KMeans fit that q40 (assignments), q50 (silhouette of
    * the same clustering — evaluating a different fit than the one
    * published would be wrong) and the IVF quantizer read. */
  private def kmeansFitted(s: SparkSession, dir: String)
      : (org.apache.spark.ml.clustering.KMeansModel, DataFrame) =
    artifact(s, dir, "kmeans") {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val emb = t(s, dir, "embeddings")
        .withColumn("features", array_to_vector(col("embedding")))
      (new KMeans().setK(10).setSeed(1L).setMaxIter(5)
        .setFeaturesCol("features").fit(emb), emb)
    }(_ => ())

  /** The one seeded Word2Vec fit that q60 (the word vectors) and q61
    * (document vectors by occurrence averaging) read: q61's oracle replays
    * the averaging from q60's export. Doc2Vec.fit owns the determinism
    * normalization (doc_id order, bounded prefix, one partition). */
  private def doc2vecFitted(s: SparkSession, dir: String)
      : (org.apache.spark.ml.feature.Word2VecModel, DataFrame) =
    artifact(s, dir, "doc2vec") {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("tokens"))
      (graft.ml.Doc2Vec.fit(docs, "doc_id", "tokens"), docs)
    }(_ => ())

  /** The one persisted IVF quantizer q70, q72 and q73 read — a model
    * artifact, like the KMeans fit it derives from. */
  private def ivfQuantizerShared(s: SparkSession, dir: String): DataFrame =
    artifact(s, dir, "ivfQuantizer") {
      val (model, emb) = kmeansFitted(s, dir)
      val clusters = model.transform(emb)
        .select(col("vec_id"), col("prediction").as("cluster"))
      Ann.ivfQuantizer(emb, "vec_id", "embedding", clusters).persist()
    }(_.unpersist())

  /** The IVF corpus assignment (Ann.ivfAssign: every corpus row mapped to
    * its nearest list). It is nprobe-independent, so q70's top-k and all
    * four q73 curve points read one corpus argmin scan. */
  private def ivfAssignedShared(s: SparkSession, dir: String): DataFrame =
    sharedResult(s, dir, "ivfAssigned") {
      val (_, emb) = kmeansFitted(s, dir)
      Ann.ivfAssign(emb, ivfQuantizerShared(s, dir), "vec_id", "embedding")
    }

  /** The curation chain ([[graft.corpus.Curation.build]]) over `dir`'s
    * documents, every stage a shared checkpointed frame: q74 and q82 read
    * the same stages, and whichever runs first builds all three. */
  private def curation(s: SparkSession, dir: String): graft.corpus.Curation.Stages =
    graft.corpus.Curation.build(t(s, dir, "documents"), blockTokens = 256)(
      (stage, df) => sharedResult(s, dir, s"curation.$stage")(df))

  /** q27's exact cosine top-5 of the three probes, which q72's recall and
    * q73's curve compare against. */
  private def annExact(s: SparkSession, dir: String): DataFrame =
    sharedResult(s, dir, "brute") {
      val emb = t(s, dir, "embeddings")
      Ann.bruteTopK(emb, emb.filter(col("vec_id") < 3), "vec_id", "embedding", 5)
    }

  /** q70's IVF top-5 of the three probes, at the default nprobe. */
  private def annIvf(s: SparkSession, dir: String): DataFrame =
    sharedResult(s, dir, "ivf") {
      val (_, emb) = kmeansFitted(s, dir)
      // the oracle replays exactly 8 probed lists (pr <= 8) — fail LOUDLY
      // if the sizing rule ever drifts
      require(Ann.nprobeFor(10) == 8,
        s"q70 oracle is pinned to nprobe=8, nprobeFor(10) gave ${Ann.nprobeFor(10)}")
      Ann.ivfTopKAssigned(ivfAssignedShared(s, dir),
        emb.filter(col("vec_id") < 3), ivfQuantizerShared(s, dir),
        "vec_id", "embedding", k = 5)
    }

  /** q47's LSH top-5 of the three probes, at the sized bit count. */
  private def annLsh(s: SparkSession, dir: String): DataFrame =
    sharedResult(s, dir, "lsh") {
      val emb = t(s, dir, "embeddings")
      val bits = Ann.bitsFor(emb.count()) // 4 for every testdata sf (n ≤ 4096)
      // the oracle replays exactly 4 hyperplanes (generate_series(0,3)) —
      // fail LOUDLY if a future testdata sf pushes bitsFor past 4 instead of
      // silently hash-mismatching with no code change
      require(bits == 4, s"q47 oracle is pinned to bits=4, bitsFor gave $bits")
      Ann.lshTopK(emb, emb.filter(col("vec_id") < 3), "vec_id", "embedding",
        k = 5, dim = 64, bits = bits, multiProbe = true)
    }

  /** q52's doc-topic matrix of the shared LDA fit, which q55 and q56 read. */
  private def ldaDocTopics(s: SparkSession, dir: String): DataFrame =
    sharedResult(s, dir, "ldaDocTopics") {
      val (model, features) = ldaFitted(s, dir)
      graft.ml.Lda.docTopicMatrix(model, features, "doc_id")
    }

  /** q41's data product, which q62 writes through the CSV sink. */
  private def dataProduct(s: SparkSession, dir: String): DataFrame =
    sharedResult(s, dir, "q41product") {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      val n = t(s, dir, "nation")
      val observed = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      val enriched = o.join(broadcast(observed), o("o_custkey") === observed("c_custkey"))
      enriched.groupBy(col("c_nationkey"))
        .agg(
          sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("n_f"),
          sum(when(col("o_orderstatus") === "O", 1).otherwise(0)).as("n_o"),
          sum(when(col("o_orderstatus") === "P", 1).otherwise(0)).as("n_p"),
          round(sum(col("o_totalprice")), 2).as("total"))
        .join(broadcast(n), col("c_nationkey") === n("n_nationkey"))
        .select(col("n_name"), col("n_f"), col("n_o"), col("n_p"), col("total"))
    }

  /** Oracle-side content chunks of a documents-derived turn: the scored
    * kernel's content-candidate blocks are the layout 8-token lines for
    * shape 2 and the single full-text block for shapes 0/1/3 (chrome-path
    * blocks are vetoed structurally and never reach the scorer's output).
    * CTEs d (doc_id, text, w) and ch (doc_id, chunks). */
  private val OracleChunks =
    """d AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
          ch AS (SELECT doc_id, CASE WHEN doc_id % 4 = 2 THEN
              list_transform(generate_series(0, (len(w)-1)//8),
                i -> array_to_string(w[i*8+1:i*8+8], ' '))
            ELSE [text] END AS chunks FROM d)"""

  /** Oracle replay of Scorer.scoreSql over a documents-corpus chunk `c`.
    * The corpus has no links, no inline tags and no digits, so features
    * f1/f2/f4 are EXACTLY +0.0 and the engine's left-assoc double fold
    * w0·f0 + w1·0.0 + w2·0.0 + w3·f3 + w4·0.0 + b is bit-identical to
    * w0·f0 + w3·f3 + b (x + (-0.0) == x for the nonzero partials) — the
    * replay keeps only the live terms in the same fold order. */
  private def oracleChunkSigmoid(c: String): String =
    s"""1.0/(1.0 + exp(-(2.0*least(CAST(length($c) AS DOUBLE)/256.0, 1.0)
       + CAST(len(list_filter(string_split($c, ' '),
           tk -> list_contains($OracleStops, tk))) AS DOUBLE)
         / greatest(len(string_split($c, ' ')), 1)
       + 0.25)))"""

  /** q62's CSV staging under /tmp. Each gate run writes one
    * `/tmp/graft_q62_csv_<pid>_<sf-hash>` dir; a killed run never cleans up,
    * so without a sweep consecutive Verify runs accumulate orphans. This
    * helper (a) deletes dirs whose embedded pid is no
    * longer alive, (b) records our own dir for deletion at JVM exit. The
    * CSV must outlive the builder call — the returned DataFrame reads it
    * lazily when the driver executes the query — so deletion cannot happen
    * inline; process death is the correct lifetime. */
  private val stagedDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def deleteRecursively(f: java.io.File): Unit = {
    val cs = f.listFiles(); if (cs != null) cs.foreach(deleteRecursively)
    f.delete(): Unit
  }
  private lazy val stageExitHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      stagedDirs.forEach(p => deleteRecursively(new java.io.File(p)))))
  /** Pid-qualified /tmp staging dir shared by the gates that must write
    * real files (q62 CSV, q75 media fixtures, q76 streaming replay):
    * sweeps same-prefix dirs left by DEAD processes, registers ours for
    * deletion at JVM exit. */
  private def stageDir(prefix: String, sfHash: Int): String = {
    val self = ProcessHandle.current().pid()
    val stale = new java.io.File("/tmp")
      .listFiles((_, n) => n.startsWith(prefix + "_"))
    if (stale != null) stale.foreach { d =>
      // toLongOption: /tmp is world-writable, so a foreign dir whose digit
      // prefix exceeds Long must not crash every later gate run
      val pid = d.getName.stripPrefix(prefix + "_").takeWhile(_.isDigit)
        .toLongOption
      // a recycled pid now owned by an unrelated live process is left alone
      // (swept by a later run once the pid frees up)
      pid.foreach { p =>
        if (p != self && !ProcessHandle.of(p).isPresent) deleteRecursively(d)
      }
    }
    val out = s"/tmp/${prefix}_${self}_$sfHash"
    stagedDirs.add(out); stageExitHook
    out
  }
  /** Total size and latest mtime of a file, or of a directory's files. */
  private def sizeAndMtime(f: java.io.File): (Long, Long) =
    Option(f.listFiles()).fold((f.length, f.lastModified)) {
      _.map(sizeAndMtime).foldLeft((0L, f.lastModified)) {
        case ((n, m), (cn, cm)) => (n + cn, m max cm)
      }
    }
  private def q62Stage(sfHash: Int): String = stageDir("graft_q62_csv", sfHash)

  /** q75's media fixture dir: real BMP/WAV/AVI files ON DISK (the q63/q64/
    * q69 arithmetic payloads, keyed by the id embedded in the FILENAME),
    * written once per (process, sf) and read back through the production
    * `binaryFile` source, so [[graft.multimodal.Multimodal.fromBinaryFiles]]
    * (the path a deployment actually ingests through) runs under a gate,
    * not only the synthetic in-memory tables. */
  private val Q75Files = 20
  private def q75Media(sfHash: Int): String = {
    val dir = stageDir("graft_q75_media", sfHash)
    val ready = new java.io.File(dir, "_READY")
    if (!ready.exists) {
      new java.io.File(dir).mkdirs()
      import java.nio.file.{Files, Paths}
      val mm = graft.multimodal.Multimodal
      (0L until Q75Files).foreach { id =>
        Files.write(Paths.get(dir, f"img_$id%04d.bmp"), mm.bmpBytes(id))
        Files.write(Paths.get(dir, f"aud_$id%04d.wav"), mm.wavBytes(id))
        Files.write(Paths.get(dir, f"vid_$id%04d.avi"), mm.aviBytes(id))
        ()
      }
      // one codec-less blob exercising the 'binary' fallback kind UNDER
      // the gate (the _READY marker can't: Spark's file index silently
      // skips underscore-prefixed files)
      Files.write(Paths.get(dir, "bin_0001.bin"),
        Array[Byte](1, 2, 3, 4, 5, 6, 7))
      Files.write(Paths.get(dir, "_READY"), Array.emptyByteArray)
      ()
    }
    dir
  }

  // ------------------------------------------------------------------------
  // oracle fragments: SQL that two or more oracles spell
  // ------------------------------------------------------------------------

  /** conv_id / turn_idx key mapping used by Transcripts.fromDocuments,
    * restated in SQL for the extraction oracles. */
  private val OracleConvId = s"'c' || lpad(CAST(doc_id % ${Transcripts.ConvFold} AS VARCHAR), 4, '0')"
  private val OracleTurnIdx = s"CAST(doc_id // ${Transcripts.ConvFold} AS INT)"

  /** Per-turn text of the documents-derived corpus, keyed like
    * Transcripts.fromDocuments, with `textExpr` as the turn text: the q30
    * contract. */
  private def oracleTurnText(textExpr: String) =
    s"""SELECT $OracleConvId AS conv_id, $OracleTurnIdx AS turn_idx,
            $textExpr AS text
          FROM documents"""

  /** The shared dictionary over the oracle tokens (Vocab.buildFromCounts:
    * noBelow 2, noAbove 0.9, ids by df desc then token) with its per-doc
    * counts and unrounded tf-idf. CTEs toks, stats, n, vocab (token, df,
    * id), bow (doc_id, token_id, df, cnt) and tfidf (doc_id, token_id, cnt,
    * tfidf). */
  private val OracleDictionary =
    s"""toks AS (
            SELECT doc_id, unnest($OracleTokens) AS token FROM documents),
          stats AS (
            SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
          n AS (SELECT count(*) AS n_docs FROM documents),
          vocab AS (
            SELECT token, df,
              CAST(row_number() OVER (ORDER BY df DESC, token ASC) - 1 AS BIGINT) AS id
            FROM stats, n WHERE df >= 2 AND df <= 0.9 * n_docs),
          bow AS (
            SELECT doc_id, id AS token_id, df, count(*) AS cnt
            FROM toks JOIN vocab USING (token) GROUP BY 1, 2, 3),
          tfidf AS (
            SELECT doc_id, token_id, cnt,
              cnt * ln((SELECT n_docs FROM n) / CAST(df AS DOUBLE)) AS tfidf
            FROM bow)"""

  /** Router's first-match-wins cascade over the oracle tokens, generated
    * from the same Router.DefaultRules table the engine routes by. */
  private val OracleRoute = Router.DefaultRules.map { r =>
    r.allOf.map(kw => s"list_contains($OracleTokens, '$kw')")
      .mkString("WHEN ", " AND ", s" THEN '${r.route}'")
  }.mkString("CASE ", "\n            ", " ELSE 'unrouted' END")

  /** The q20 quality score (TextStatsExprs.qualityScorePpm: an integer ppm
    * blend of length, stopword, punctuation and digit features). CTEs f, g
    * and q (doc_id, text, quality_ppm) over the documents. */
  private val OracleQuality =
    s"""f AS (
           SELECT doc_id, text,
             greatest(length(text), 1) AS len,
             length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS punct,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digits,
             list_filter(string_split_regex(lower(text), '\\s+'), tk -> length(tk) > 0) AS toks
           FROM documents),
         g AS (
           SELECT doc_id, text, len, punct, digits,
             greatest(len(toks), 1) AS nt,
             len(list_filter(toks, tk -> list_contains($OracleStops, tk))) AS stop_hits
           FROM f),
         q AS (
           SELECT doc_id, text,
             greatest(0, least(1000000,
               500000 + (least(nt, 64) * 300000) // 64
                      + (stop_hits * 200000) // nt
                      - (punct * 500000) // len
                      - (digits * 500000) // len)) AS quality_ppm
           FROM g)"""

  /** Dedup.exact over `from` (doc_id, text): the md5 of the case- and
    * space-folded text, kept at its lowest doc_id. CTEs fp (doc_id,
    * fingerprint) and keepers (fingerprint, keeper). */
  private def oracleKeepers(from: String) =
    s"""fp AS (
           SELECT doc_id, md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fingerprint
           FROM $from),
         keepers AS (SELECT fingerprint, min(doc_id) AS keeper FROM fp GROUP BY 1)"""

  /** The distinct k-token shingles of the token list `w` (Dedup.shingles:
    * a list shorter than k gives one truncated shingle). */
  private def oracleShingles(k: Int) =
    s"""list_distinct(list_transform(
             generate_series(1, greatest(len(w) - ${k - 1}, 1)),
             i -> array_to_string(w[i:i+${k - 1}], ' ')))"""

  /** CTE d (doc_id, w): the space-split `textExpr` of the doc_id % 10 = 0
    * sample the pairwise dedup gates run on. */
  private def oracleSample(textExpr: String) =
    s"""d AS (SELECT doc_id, string_split($textExpr, ' ') AS w FROM documents
           WHERE doc_id % 10 = 0)"""

  /** Dedup.minhashSignatureMd5's inputs over the 3-shingles of each `d`
    * row: CTEs sh, h (doc_id, hv: the shingle's md5 prefix mod 2³¹−1) and
    * hi (h_idx in [0, numHashes)). [[OracleMinhash]] is slot h_idx of the
    * signature, aggregated per (doc_id, h_idx) over h × hi. */
  private def oracleMinhashInputs(numHashes: Int) =
    s"""sh AS (SELECT doc_id, unnest(${oracleShingles(3)}) AS sh FROM d),
         h AS (
           SELECT doc_id,
             ('0x' || substr(md5(sh), 1, 8))::BIGINT % 2147483647 AS hv
           FROM sh),
         hi AS (SELECT unnest(generate_series(0, ${numHashes - 1})) AS h_idx)"""
  private val OracleMinhash =
    """min((hv * ((1000000007 * (h_idx + 1)) % 2147483647)
                + ((998244353 * (h_idx * h_idx + 1)) % 2147483647)) % 2147483647)"""

  /** Curation.nearDupPairs over `d`: 16 MinHash slots in 4 bands of 4,
    * candidate pairs from equal band buckets (a bucket holding more than
    * `maxBucket` docs is dropped; 0 keeps all). Ends in CTE m (key_a,
    * key_b, slots), the pair's count of equal slots. */
  private def oracleNearDupSlots(maxBucket: Int) = {
    val kept = if (maxBucket == 0) "band" else
      s"""band JOIN (SELECT band, bucket FROM band GROUP BY 1, 2
                          HAVING count(*) <= $maxBucket) USING (band, bucket)"""
    s"""${oracleMinhashInputs(16)},
         sig AS (SELECT doc_id, h_idx, $OracleMinhash AS mh
                 FROM h, hi GROUP BY 1, 2),
         band AS (
           SELECT doc_id, h_idx // 4 AS band,
             string_agg(CAST(mh AS VARCHAR), ':' ORDER BY h_idx) AS bucket
           FROM sig GROUP BY 1, 2),
         bandc AS (SELECT doc_id, band, bucket FROM $kept),
         pairs AS (
           SELECT DISTINCT a.doc_id AS key_a, b.doc_id AS key_b
           FROM bandc a JOIN bandc b
             ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         m AS (
           SELECT p.key_a, p.key_b,
             sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS slots
           FROM pairs p
           JOIN sig sa ON sa.doc_id = p.key_a
           JOIN sig sb ON sb.doc_id = p.key_b AND sb.h_idx = sa.h_idx
           GROUP BY 1, 2)"""
  }

  /** q65's exported LSA/PCA model (part, i, j, value), which the q44, q49
    * and q66 oracles replay from. */
  private val OracleLsaExport =
    "read_parquet('__VERIFY_OUT__/q65_lsa_model/*.parquet')"

  /** q45's and q58's near-dup pairs of the sample, its text rewritten by
    * `textExpr`: (key_a, key_b, est_jaccard). */
  private def oracleNearDupPairs(textExpr: String, maxBucket: Int) =
    s"""WITH ${oracleSample(textExpr)},
         ${oracleNearDupSlots(maxBucket)}
         SELECT key_a, key_b, round(slots / 16.0, 6) AS est_jaccard FROM m"""

  /** CTE b (p_key, c_key): q27's exported exact top-k, which the q72 and
    * q73 recall oracles score against. */
  private val OracleExactTopK =
    """b AS (SELECT p_key, c_key
               FROM read_parquet('__VERIFY_OUT__/q27_ann_topk/*.parquet'))"""

  /** CTE dt (doc_id, topic, weight): q52's exported doc-topic matrix,
    * which the q52, q55 and q56 oracles replay from. */
  private val OracleDocTopics =
    """dt AS (SELECT doc_id, topic, weight
                     FROM read_parquet('__VERIFY_OUT__/q52_lda/*.parquet'))"""

  /** CTE v (vec_id, e): the embeddings as DOUBLE lists. */
  private val OracleVectors =
    "v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)"

  /** The cosine of DOUBLE lists `a` and `b` at 6dp. */
  private def oracleCos(a: String, b: String) =
    s"""round(list_dot_product($a, $b)
               / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), 6)"""

  /** CTE ranked: `from`'s candidate pairs (p_key, c_key, cos) numbered rk
    * per `by` in Ann's top-k order (best cosine, ties to the lower c_key). */
  private def oracleRanked(from: String, by: String = "p_key") =
    s"""ranked AS (
           SELECT *, CAST(row_number() OVER (PARTITION BY $by
             ORDER BY cos DESC, c_key ASC) AS INT) AS rk FROM $from)"""
  private val OracleTop5 = "SELECT p_key, c_key, cos, rk FROM ranked WHERE rk <= 5"

  /** Ann's hyperplane sign buckets of the `v` rows (bits 4, dim 64; the
    * planes are hash arithmetic both engines replay). CTEs proj and bkt
    * (vec_id, bucket). */
  private val OracleLshBuckets =
    """proj AS (
           SELECT vec_id, b.b AS b,
             list_dot_product(e, list_transform(generate_series(0, 63),
               d -> CAST((b.b*64 + d) * 2654435761 % 1024 - 512 AS DOUBLE))) AS pr
           FROM v CROSS JOIN generate_series(0, 3) b(b)),
         bkt AS (
           SELECT vec_id, CAST(sum(CASE WHEN pr > 0
             THEN (1 << CAST(b AS INT)) ELSE 0 END) AS INT) AS bucket
           FROM proj GROUP BY 1)"""

  /** Ann.lshTopK's multi-probe candidates over `v`: each probe (a `v` row
    * matching `probes`) visits its own bucket and every Hamming-1
    * neighbour. Ends in CTE cand (p_key, c_key, cos), each distinct pair
    * once. */
  private def oracleLshCandidates(probes: String) =
    s"""$OracleLshBuckets,
         c AS (SELECT v.vec_id AS c_key, v.e AS c_vec, bkt.bucket
               FROM v JOIN bkt USING (vec_id)),
         p0 AS (SELECT v.vec_id AS p_key, v.e AS p_vec, bkt.bucket
                FROM v JOIN bkt USING (vec_id) WHERE $probes),
         p AS (
           SELECT p_key, p_vec, unnest(list_prepend(bucket,
             list_transform(generate_series(0, 3),
               i -> CAST(xor(bucket, 1 << CAST(i AS INT)) AS INT)))) AS bucket
           FROM p0),
         cand AS (
           SELECT DISTINCT p.p_key, c.c_key, ${oracleCos("c.c_vec", "p.p_vec")} AS cos
           FROM c JOIN p ON c.bucket = p.bucket AND c.c_key <> p.p_key)"""

  /** Dedup.embeddingDupLsh over the embeddings: same-bucket pairs (key_a
    * < key_b) whose 6dp cosine reaches `threshold`. Ends in CTE pairs. */
  private def oracleEmbedDup(threshold: Double) =
    s"""$OracleVectors,
         $OracleLshBuckets,
         w AS (SELECT v.vec_id, v.e, bkt.bucket FROM v JOIN bkt USING (vec_id)),
         pairs AS (SELECT * FROM (
           SELECT a.vec_id AS key_a, b.vec_id AS key_b, ${oracleCos("a.e", "b.e")} AS cos
           FROM w a JOIN w b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
           WHERE cos >= $threshold)"""

  /** LabelProp.spread over the 500-vector prefix v (vec_id, e, label) and
    * the 3-NN graph of the `candidates` CTEs, which end in cand (p_key,
    * c_key, cos): every tenth vec_id is seeded with its label, and each of
    * `iters` clamped rounds gives an unseeded node its neighbours' majority
    * label (ties to the lower label). */
  private def oracleLabelProp(candidates: String, iters: Int) = {
    val rounds = (1 to iters).map { i =>
      s"""v$i AS (SELECT k.src AS vec_id, l.label AS nl, count(*) AS w
                FROM knn k JOIN l${i - 1} l ON k.dst = l.vec_id
                WHERE l.label IS NOT NULL GROUP BY 1, 2),
         w$i AS (SELECT vec_id, nl FROM (
           SELECT vec_id, nl, row_number() OVER (PARTITION BY vec_id
             ORDER BY w DESC, nl ASC) AS rk FROM v$i) WHERE rk = 1),
         l$i AS (SELECT s.vec_id, coalesce(s.seed, w$i.nl) AS label
                FROM seeds s LEFT JOIN w$i USING (vec_id))"""
    }.mkString(",\n         ")
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e, label
                    FROM embeddings WHERE vec_id < 500),
         $candidates,
         ${oracleRanked("cand")},
         knn AS (SELECT p_key AS src, c_key AS dst FROM ranked WHERE rk <= 3),
         seeds AS (SELECT vec_id,
             CASE WHEN vec_id % 10 = 0 THEN label END AS seed FROM v),
         l0 AS (SELECT vec_id, seed AS label FROM seeds),
         $rounds
         SELECT vec_id, label FROM l$iters"""
  }

  /** CTEs asg (q40's exported clustering) and pts (vec_id, cluster, dim,
    * vq): every embedding component on q40's 1e-4 integer grid. */
  private val OracleKmeansGrid =
    """asg AS (SELECT vec_id, label, cluster
                  FROM read_parquet('__VERIFY_OUT__/q40_kmeans/*.parquet')),
         pts AS (SELECT a.vec_id, a.cluster, d.d AS dim,
                   CAST(floor(e.embedding[d.d]::DOUBLE * 10000.0 + 0.5)
                     AS BIGINT) AS vq
                 FROM asg a JOIN embeddings e USING (vec_id),
                      generate_series(1, 64) d(d))"""

  /** The IVF top-k of the three probes at each of `nprobes`, replayed from
    * q40's export (Ann.ivfQuantizer → ivfAssign → ivfTopKAssigned): list
    * centroids on the grid (floor(Σvq/cnt + 0.5) per dim), exact integer
    * squared distances, argmin list assignment (ties to the lower list),
    * each probe routed to its nprobe nearest lists by the same distances,
    * then the cosine rescore. Ends in CTE ranked (nprobe, p_key, c_key,
    * cos, rk) and keeps np (nprobe). */
  private def oracleIvf(nprobes: Seq[Int]) =
    s"""$OracleKmeansGrid,
         cent AS (SELECT cluster AS list, dim,
                    CAST(floor(CAST(sum(vq) AS DOUBLE) / count(*) + 0.5)
                      AS BIGINT) AS c4
                  FROM pts GROUP BY 1, 2),
         d2 AS (SELECT p.vec_id, c.list,
                  CAST(sum((p.vq - c.c4) * (p.vq - c.c4)) AS BIGINT) AS d2
                FROM pts p JOIN cent c USING (dim) GROUP BY 1, 2),
         near AS (SELECT vec_id, list, row_number() OVER (PARTITION BY vec_id
                    ORDER BY d2 ASC, list ASC) AS rn FROM d2),
         assigned AS (SELECT vec_id, list FROM near WHERE rn = 1),
         np AS (SELECT unnest([${nprobes.mkString(", ")}]) AS nprobe),
         routing AS (
           SELECT n.nprobe, d.vec_id AS p_key, d.list
           FROM near d JOIN np n ON d.rn <= n.nprobe WHERE d.vec_id < 3),
         $OracleVectors,
         cand AS (
           SELECT r.nprobe, r.p_key, a.vec_id AS c_key, ${oracleCos("c.e", "p.e")} AS cos
           FROM assigned a JOIN routing r USING (list)
           JOIN v c ON c.vec_id = a.vec_id
           JOIN v p ON p.vec_id = r.p_key
           WHERE a.vec_id <> r.p_key),
         ${oracleRanked("cand", by = "nprobe, p_key")}"""

  /** Recall ppm over a left join onto the exact top-k: the share of rows
    * the `hit` side matched, hits · 10⁶ DIV rows. */
  private def oracleRecallPpm(hit: String) =
    s"""CAST(sum(CASE WHEN $hit.c_key IS NOT NULL THEN 1 ELSE 0 END)
                * 1000000 // count(*) AS BIGINT)"""

  /** Multimodal's synthetic BMPs, ids 0 until n: w = 4 + id%4, h = 3 +
    * id%3, channel (x, y, top-down) formulas mod 251, ppm = floor(sum·10^6
    * / wh), plus the POSITION-WEIGHTED red sum Σ r(x,y)·(y·w + x + 1).
    * Plain sums are permutation-invariant (a vertically-flipped decode
    * would pass them); the weighted sum is what makes a hash match prove
    * ImageIO returned the encoded pixels AT their encoded positions. */
  private def oracleImages(n: Int) =
    s"""WITH px AS (
           SELECT CAST(s AS BIGINT) AS media_id,
             4 + s % 4 AS w, 3 + s % 3 AS h, x.x AS x, y.y AS y
           FROM generate_series(0, ${n - 1}) t(s)
           JOIN generate_series(0, 6) x(x) ON x.x < 4 + s % 4
           JOIN generate_series(0, 4) y(y) ON y.y < 3 + s % 3),
         agg AS (
           SELECT media_id, any_value(w) AS w, any_value(h) AS h,
             ${oracleBmpSums("x", "y", "y * w + x + 1")}
           FROM px GROUP BY 1)
         SELECT media_id, TRUE AS decoded,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(sr * 1000000 // (w * h) AS BIGINT) AS r_ppm,
           CAST(sg * 1000000 // (w * h) AS BIGINT) AS g_ppm,
           CAST(sb * 1000000 // (w * h) AS BIGINT) AS b_ppm,
           CAST(wr AS BIGINT) AS r_wsum
         FROM agg"""

  /** The channel sums of source pixels (x, y) of image media_id, and the
    * red sum weighted by the output position `pos`. */
  private def oracleBmpSums(x: String, y: String, pos: String) =
    s"""sum((media_id * 31 + $y * 17 + $x * 7) % 251) AS sr,
             sum((media_id * 13 + $y * 11 + $x * 5) % 251) AS sg,
             sum((media_id * 29 + $y * 23 + $x * 3) % 251) AS sb,
             sum(((media_id * 31 + $y * 17 + $x * 7) % 251)
                 * ($pos)) AS wr"""

  /** Multimodal's synthetic WAVs, ids 0 until n: 50 + id%50 samples,
    * sample i = ((id·31 + i·7) mod 2003) − 1001, plus the ORDER-pinning
    * weighted sum Σ vᵢ·(i+1) (plain sums would pass a reversed stream). */
  private def oracleAudio(n: Int) =
    s"""WITH sm AS (
           SELECT CAST(t.s AS BIGINT) AS media_id, i.i AS i,
             ((t.s * 31 + i.i * 7) % 2003) - 1001 AS v
           FROM generate_series(0, ${n - 1}) t(s)
           JOIN generate_series(0, 98) i(i) ON i.i < 50 + t.s % 50)
         SELECT media_id, TRUE AS decoded, CAST(8000 AS INT) AS sample_rate,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(v) AS BIGINT) AS sum_pcm,
           CAST(sum(abs(v)) AS BIGINT) AS sum_abs_pcm,
           CAST(sum(v * (i + 1)) AS BIGINT) AS wsum_pcm
         FROM sm GROUP BY 1"""

  /** Multimodal's synthetic MJPEG AVIs, ids 0 until n: 3 + id%4 frames,
    * every frame 16×16, level of frame f = (id·7 + f·13) mod 8. */
  private def oracleVideo(n: Int) =
    s"""SELECT CAST(t.s AS BIGINT) AS media_id, TRUE AS decoded,
           CAST(f.f AS INT) AS frame_idx,
           CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
           CAST((t.s * 7 + f.f * 13) % 8 AS INT) AS level
         FROM generate_series(0, ${n - 1}) t(s)
         JOIN generate_series(0, 6) f(f) ON f.f < 3 + t.s % 4"""

  /** Packing.packSpans over `from` (doc_id, text): token count =
    * whitespace tokens + 1 EOS, an inclusive running sum in doc_id order,
    * span [cum−n, cum), one row per 256-token block the span touches. The
    * whitespace class is spelled out as Packing.WsClass's (RE2 `\s` omits
    * \x0B where Java's includes it). */
  private def oraclePacking(from: String) =
    s"""d AS (
           SELECT doc_id,
             CAST(len(list_filter(string_split_regex(text, '[ \\t\\n\\v\\f\\r]+'),
               t -> length(t) > 0)) + 1 AS BIGINT) AS n
           FROM $from),
         c AS (
           SELECT doc_id, n,
             sum(n) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM d),
         s AS (SELECT doc_id, CAST(cum - n AS BIGINT) AS st,
                 CAST(cum AS BIGINT) AS en FROM c)
         SELECT CAST(unnest(generate_series(st // 256, (en - 1) // 256))
             AS BIGINT) AS pack_id,
           doc_id, CAST(st AS BIGINT) AS start_tok, CAST(en AS BIGINT) AS end_tok
         FROM s"""

  /** Curation's portable md5 row priority (the first 8 hex chars of the
    * id's md5 as an int, mod 10⁶) below the row's keep rate r_ppm. */
  private def oracleSampled(id: String) =
    s"""('0x' || substr(md5(CAST($id AS VARCHAR)), 1, 8))::BIGINT
           % 1000000 < r_ppm"""

  /** Curation.sampleToBalanced's keep rates over `from` (lang): every
    * language kept at the smallest one's count. DuckDB `//` floors where
    * the engine's driver-side Long division truncates, identical on these
    * non-negative counts. CTE r (lang, r_ppm). */
  private def oracleBalancedRates(from: String) =
    s"""cnt AS (SELECT lang, count(*) AS cnt FROM $from GROUP BY 1),
         mn AS (SELECT min(cnt) AS mn FROM cnt),
         r AS (SELECT lang, CAST(mn * 1000000 // cnt AS BIGINT) AS r_ppm
               FROM cnt, mn)"""

  // ------------------------------------------------------------------------
  // gates
  // ------------------------------------------------------------------------

  /** One gated query: its name, the engine build over an sf dir, and the
    * DuckDB SQL over the same parquet tables that must return the same
    * rows. An oracle may read a query's own exported parquet back through
    * `__VERIFY_OUT__`, which Verify substitutes with its absolute output
    * dir: the iterative fit (cluster assignment, topic weights) is taken as
    * given from the export, and everything derived from it is recomputed
    * in SQL and must match the engine bit-for-bit after the stated
    * rounding. */
  final case class Gate(name: String, build: (SparkSession, String) => DataFrame,
                        oracle: Option[String])

  /** `gates` in order, each name once: a `Map` literal would silently keep
    * the last of a repeated key. */
  def gateList(gates: Gate*): Seq[Gate] = {
    val repeated = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(repeated.isEmpty, s"repeated gate names: ${repeated.mkString(", ")}")
    gates
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.build).toMap
  lazy val oracleSql: Map[String, String] =
    gates.flatMap(g => g.oracle.map(g.name -> _)).toMap

  /** Lazy, so it reads the oracle fragment vals only once they are
    * initialized: a strict val declared above one would interpolate null. */
  lazy val gates: Seq[Gate] = gateList(
    // ---------------------------------------------------------- relational
    // A1/A8 — grouped sums/counts (hash agg, partial+final; money rounded to
    // 2dp DOUBLE in both engines — the true sum is an exact multiple of 0.01,
    // so a ±1e-7 accumulation-order wobble can't cross a rounding boundary).
    Gate("q01_agg_sums", (s, dir) => t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"),
        count(lit(1)).as("n")),
      Some("""SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_price,
           count(*) AS n
         FROM lineitem GROUP BY 1, 2""")),

    // A1 — distribution count (img_info analog, modules/image_ocr.py:16-24)
    Gate("q02_event_counts", (s, dir) => t(s, dir, "events")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"),
        round(sum(col("value")), 2).as("sum_value")),
      Some("""SELECT event_type, count(*) AS n,
           round(sum(value), 2) AS sum_value
         FROM events GROUP BY 1""")),

    // J2/J3 — broadcast-hash equi joins: revenue per nation
    Gate("q03_join_revenue", (s, dir) => {
      val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
          count(lit(1)).as("n_orders"))
    },
      Some("""SELECT n_name,
           round(sum(o_totalprice), 2) AS revenue,
           count(*) AS n_orders
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY 1""")),

    // J1 — semi join (isin filter analog, src/doc_classification.py:639)
    Gate("q04_semi_join", (s, dir) => {
      val c = t(s, dir, "customer")
      val big = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
      c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    },
      Some("""SELECT c_custkey, c_name FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)""")),

    // set ops — anti join (complement-by-index analog, SURVEY.md §2.9)
    Gate("q05_anti_join", (s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    },
      // NOT EXISTS, not NOT IN: the engine runs a left-anti join, and the two
      // agree only while o_custkey is never NULL — one NULL makes NOT IN
      // return ZERO rows while the anti-join returns every unmatched customer
      // (a silent oracle divergence).
      Some("""SELECT c_custkey, c_name FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""")),

    // T1/T6 — windowed top-n per key (deterministic tie-break)
    Gate("q06_window_topn", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders").withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("price"), col("rk"))
    },
      Some("""SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price, rk
         FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk FROM orders)
         WHERE rk <= 3""")),

    // T1 — argmax per key (per-doc top-topic analog): window row_number with
    // a total tie-break order — deterministic in any engine
    Gate("q07_argmax", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders").withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("o_custkey"), col("o_orderkey").as("best_order"),
          round(col("o_totalprice"), 2).as("best_price"))
    },
      Some("""SELECT o_custkey, o_orderkey AS best_order,
           round(o_totalprice, 2) AS best_price
         FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk FROM orders)
         WHERE rk = 1""")),

    // A9 — one-hot pivot (pd.get_dummies analog, src/doc_classification.py:609)
    Gate("q08_pivot", (s, dir) => {
      val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .count().na.fill(0)
        .select(col("c_mktsegment"), col("F").as("n_f"), col("O").as("n_o"),
          col("P").as("n_p"))
    },
      Some(s"""SELECT c_mktsegment, $OracleStatusCounts
         FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1""")),

    // A13 — distinct keys
    Gate("q09_distinct", (s, dir) => t(s, dir, "lineitem")
      .select("l_returnflag", "l_linestatus").distinct(),
      Some("SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem")),

    // J4 — union-dedup (vocab merge analog, src/doc_classification.py:677)
    Gate("q10_union_dedup", (s, dir) => {
      val a = t(s, dir, "orders").select(col("o_custkey").as("custkey"))
      val b = t(s, dir, "customer").select(col("c_custkey").as("custkey"))
      a.union(b).distinct()
    },
      Some("""SELECT o_custkey AS custkey FROM orders
         UNION SELECT c_custkey AS custkey FROM customer""")),

    // A11/A12 — variance + mean per group (np.var/np.mean analogs)
    Gate("q11_stats", (s, dir) => t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(round(var_pop(col("l_quantity")), 6).as("var_qty"),
        round(avg(col("l_quantity")), 6).as("avg_qty")),
      Some("""SELECT l_returnflag,
           round(var_pop(l_quantity), 6) AS var_qty,
           round(avg(l_quantity), 6) AS avg_qty
         FROM lineitem GROUP BY 1""")),

    // T2/T4 — global top-k with deterministic tie-break
    Gate("q12_topk", (s, dir) => t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price")),
      Some("""SELECT o_orderkey, round(o_totalprice, 2) AS price
         FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""")),

    // ---------------------------------------------------------- text tier
    // P1–P8 — normalization pipeline, exploded to long form
    Gate("q13_tokens", (s, dir) => docTokens(s, dir)
      .select(col("doc_id"), explode(col("tokens")).as("token")),
      Some(s"""SELECT doc_id, unnest($OracleTokens) AS token FROM documents""")),

    // A2/A3 — dictionary with filter_extremes + deterministic ids. The
    // three vocab-tier queries read the ONE shared dictionary build
    // (vocabInfo — same params, byte-identical rows), so the df-stats
    // aggregation and ranking window run once per session.
    Gate("q14_vocab", (s, dir) => vocabInfo(s, dir)._1,
      Some(s"""WITH $OracleDictionary
          SELECT token, id, df FROM vocab""")),

    // A4 — bag of words (long form); vocab + bow branches read the one
    // materialized termCounts aggregate (see docTermCounts).
    Gate("q15_bow", (s, dir) => {
      val tc = docTermCounts(s, dir)
      Vocab.bowFromCounts(tc, vocabInfo(s, dir)._1, "doc_id")
    },
      Some(s"""WITH $OracleDictionary
          SELECT doc_id, token_id, cnt FROM bow""")),

    // M1 — tf-idf (rounded column math); single vocab join carrying id+df
    Gate("q16_tfidf", (s, dir) => {
      val tc = docTermCounts(s, dir)
      val (vocab, n, _) = vocabInfo(s, dir)
      Vocab.tfidfFromCounts(tc, vocab, "doc_id", n)
        .withColumn("tfidf", round(col("tfidf"), 6))
    },
      Some(s"""WITH $OracleDictionary
          SELECT doc_id, token_id, cnt, round(tfidf, 6) AS tfidf FROM tfidf""")),

    // §2.6 — first-match-wins keyword routing (single pass)
    Gate("q17_route", (s, dir) => Router.route(docTokens(s, dir), "tokens")
      .select(col("doc_id"), col("route")),
      Some(s"""SELECT doc_id, $OracleRoute AS route FROM documents""")),

    // A7/T5 — docs per route, ordered (reference: docs-per-topic count)
    Gate("q18_route_counts", (s, dir) =>
      Router.route(docTokens(s, dir), "tokens")
        .groupBy("route").agg(count(lit(1)).as("n")),
      Some(s"""WITH routed AS (
            SELECT doc_id, $OracleRoute AS route FROM documents)
          SELECT route, count(*) AS n FROM routed GROUP BY 1""")),

    // text analysis: token counts + quality + language guess. ONE tokenize
    // serves both: whitespace positions are identical under lower() and
    // empty-token filtering is case-blind, so the size of the lowercased
    // tokens langId reads is wsTokenCount's count of the raw text.
    Gate("q19_textstats", (s, dir) => t(s, dir, "documents")
      .select(col("doc_id"), col("text"),
        Normalize.tokenize(lower(col("text"))).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).as("n_ws_tokens"),
        length(col("text")).as("n_chars"),
        TextStats.langId(col("toks")).as("lang_guess")),
      Some("""SELECT doc_id,
           len(list_filter(string_split_regex(text, '\s+'), tk -> length(tk) > 0)) AS n_ws_tokens,
           length(text) AS n_chars,
           CASE WHEN list_contains(list_filter(string_split_regex(lower(text), '\s+'), tk -> length(tk) > 0), 'the')
                THEN 'en' ELSE 'und' END AS lang_guess
         FROM documents""")),

    // quality score (integer ppm blend of densitometric features —
    // bit-identical across engines, no float rounding boundary)
    Gate("q20_quality", (s, dir) => t(s, dir, "documents").select(
      col("doc_id"),
      // native one-pass kernel; composed spelling pinned equal
      // by TextStatsExprsSpec and replayed by the unchanged oracle
      graft.textstats.TextStatsExprs.qualityScorePpm(col("text"),
        Normalize.DefaultStops).as("quality_ppm")),
      Some(s"""WITH $OracleQuality
         SELECT doc_id, quality_ppm FROM q""")),

    // fingerprint + exact dedup
    Gate("q21_dedup_exact", (s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "doc_id", "text"),
      Some(s"""WITH ${oracleKeepers("documents")}
         SELECT doc_id, fingerprint, doc_id = keeper AS keep
         FROM fp JOIN keepers USING (fingerprint)""")),

    // P9/P10/P11 — filename/label string surgery
    Gate("q22_string_ops", (s, dir) => t(s, dir, "part").select(
      col("p_partkey"),
      element_at(split(col("p_name"), " "), -1).as("last_word"),
      substring_index(col("p_brand"), "#", -1).cast("int").as("brand_num"),
      lower(col("p_type")).as("type_lc"),
      regexp_extract(col("p_name"), "^(\\w+)", 1).as("first_word")),
      Some("""SELECT p_partkey,
           (string_split(p_name, ' '))[-1] AS last_word,
           CAST(split_part(p_brand, '#', 2) AS INT) AS brand_num,
           lower(p_type) AS type_lc,
           regexp_extract(p_name, '^(\w+)', 1) AS first_word
         FROM part""")),

    // M12 — per-label precision/recall/F1/support
    Gate("q23_prf", (s, dir) => {
      val df = t(s, dir, "embeddings").select(
        col("label").cast("int").as("label"),
        (col("vec_id") % 10).cast("int").as("pred"))
      Scorer.prfSupport(df, "label", "pred")
    },
      Some("""WITH d AS (
           SELECT CAST(label AS INT) AS label, CAST(vec_id % 10 AS INT) AS pred
           FROM embeddings),
         by_label AS (
           SELECT label, CAST(count(*) AS BIGINT) AS support,
             CAST(sum(CASE WHEN pred = label THEN 1 ELSE 0 END) AS BIGINT) AS tp
           FROM d GROUP BY 1),
         by_pred AS (
           SELECT pred AS label, CAST(count(*) AS BIGINT) AS predicted
           FROM d GROUP BY 1),
         j AS (
           SELECT coalesce(a.label, b.label) AS label,
             coalesce(support, 0) AS support, coalesce(tp, 0) AS tp,
             coalesce(predicted, 0) AS predicted
           FROM by_label a FULL OUTER JOIN by_pred b ON a.label = b.label),
         pr AS (
           SELECT label, support, tp,
             round(CAST(tp AS DOUBLE) / greatest(predicted, 1), 6) AS precision,
             round(CAST(tp AS DOUBLE) / greatest(support, 1), 6) AS recall
           FROM j)
         SELECT label, precision, recall,
           round(CASE WHEN precision + recall > 0
             THEN 2.0 * precision * recall / (precision + recall)
             ELSE 0.0 END, 6) AS f1,
           support,
           round(CAST(sum(tp) OVER () AS DOUBLE)
             / CAST(greatest(sum(support) OVER (), 1) AS DOUBLE), 6) AS accuracy
         FROM pr""")),

    // M19 — confusion matrix (pivot)
    Gate("q24_confusion", (s, dir) => {
      val df = t(s, dir, "embeddings").select(
        col("label").cast("int").as("label"),
        (col("vec_id") % 10).cast("int").as("pred"))
      df.groupBy("label").pivot("pred", (0 until 10).map(Integer.valueOf)).count()
        .na.fill(0)
        .select(col("label") +: (0 until 10).map(i => col(i.toString).as(s"p$i")): _*)
    },
      Some(("""SELECT CAST(label AS INT) AS label, """ +
        (0 until 10).map(i =>
          s"CAST(sum(CASE WHEN vec_id % 10 = $i THEN 1 ELSE 0 END) AS BIGINT) AS p$i")
          .mkString(", ") +
        " FROM embeddings GROUP BY 1"))),

    // windowed time agg — tumbling hour buckets
    Gate("q25_events_hourly", (s, dir) => t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")), 2).as("sum_value")),
      Some("""SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
           round(sum(value), 2) AS sum_value
         FROM events GROUP BY 1, 2""")),

    // semi-structured props extraction (S11-ish: string payload mining)
    Gate("q26_events_props", (s, dir) => t(s, dir, "events")
      .withColumn("k", regexp_extract(col("props"), "\"k\": ([0-9]+)", 1).cast("int"))
      .groupBy(col("event_type"))
      .agg(min(col("k")).as("min_k"), max(col("k")).as("max_k"),
        count(when(col("k").isNotNull, 1)).as("n_k")),
      Some("""WITH e AS (
           SELECT event_type,
             CAST(nullif(regexp_extract(props, '"k": ([0-9]+)', 1), '') AS INT) AS k
           FROM events)
         SELECT event_type, min(k) AS min_k, max(k) AS max_k,
           count(CASE WHEN k IS NOT NULL THEN 1 END) AS n_k
         FROM e GROUP BY 1""")),

    // T2/M9 — brute-force cosine top-k for a small probe set. Shared
    // persisted result: q72's recall and q73's curve both consume the exact
    // top-k, so one sweep runs the full corpus scan once.
    Gate("q27_ann_topk", annExact,
      Some(s"""WITH $OracleVectors,
         scored AS (
           SELECT p.vec_id AS p_key, c.vec_id AS c_key, ${oracleCos("c.e", "p.e")} AS cos
           FROM v c, v p
           WHERE p.vec_id < 3 AND c.vec_id <> p.vec_id),
         ${oracleRanked("scored")}
         $OracleTop5""")),

    // n-gram Jaccard near-dup pairs on a doc sample. The df cap (the 100 TB
    // hot-shingle guard) is wired through to the driver gate: the oracle
    // applies the identical cap, so the scale path is what's checked.
    // ngramJaccard returns its pairs eagerly checkpointed and leaves the
    // caller that checkpoint to free, so the pairs are registered as they
    // come.
    Gate("q28_jaccard", (s, dir) => artifact(s, dir, "jaccard") {
      val docs = t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), split(col("text"), " ").as("tokens"))
      Dedup.ngramJaccard(docs, "doc_id", "tokens", k = 3, threshold = 0.3,
        maxShingleDf = 20)
    }(Scale.unpersistCheckpoint),
      Some(s"""WITH ${oracleSample("text")},
         sh_raw AS (SELECT doc_id AS k, unnest(${oracleShingles(3)}) AS sh FROM d),
         capped AS (
           SELECT sh FROM (SELECT sh, count(*) AS c FROM sh_raw GROUP BY 1)
           WHERE c <= 20),
         sh AS (SELECT k, sh FROM sh_raw JOIN capped USING (sh)),
         sizes AS (SELECT k, count(*) AS sz FROM sh GROUP BY 1),
         pairs AS (
           SELECT a.k AS key_a, b.k AS key_b, count(*) AS inter
           FROM sh a JOIN sh b ON a.sh = b.sh AND a.k < b.k
           GROUP BY 1, 2)
         SELECT key_a, key_b,
           round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
         FROM pairs
         JOIN sizes sa ON sa.k = key_a
         JOIN sizes sb ON sb.k = key_b
         WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.3""")),

    // MinHash signatures (md5-portable variant), exploded long form
    Gate("q29_minhash", (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), split(col("text"), " ").as("tokens"))
      docs.select(col("doc_id"),
          posexplode(Dedup.minhashSignatureMd5(col("tokens"), 3, 8))
            .as(Seq("h_idx", "minhash")))
    },
      Some(s"""WITH ${oracleSample("text")},
         ${oracleMinhashInputs(8)}
         SELECT doc_id, CAST(h_idx AS INT) AS h_idx, $OracleMinhash AS minhash
         FROM h, hi GROUP BY 1, 2""")),

    // MinHash+LSH end-to-end (md5-portable hash family): banding, bucket
    // join and slot-match estimate all replayed by the DuckDB oracle (q29
    // checks the signatures alone).
    // The operator is the curation chain's near-dup stage (q74).
    Gate("q45_minhash_lsh", (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), split(col("text"), " ").as("tokens"))
      graft.corpus.Curation.nearDupPairs(docs)
    },
      Some(oracleNearDupPairs("text", maxBucket = 0))),

    // M11 — TRUE stratified split: exactly ceil(3n/10) test rows per label,
    // deterministic hash order (a plain hash split does not preserve class
    // proportions on skewed labels).
    Gate("q32_split", (s, dir) => Scorer.stratifiedSplit(
      t(s, dir, "embeddings").select(col("vec_id"),
        col("label").cast("int").as("label")),
      "label", "vec_id", testNum = 3, testDen = 10),
      Some("""SELECT vec_id, CAST(label AS INT) AS label,
           row_number() OVER (PARTITION BY CAST(label AS INT)
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
             <= (count(*) OVER (PARTITION BY CAST(label AS INT)) * 3 + 9) // 10
             AS is_test
         FROM embeddings""")),

    // P4 — POS-filtered lemmatization over the normalized token stream:
    // lexicon-tagged ADJ tokens are dropped (allowlist NOUN/VERB), tagged
    // tokens are lemma-rewritten, unknown tokens default to NOUN and pass.
    Gate("q43_lemma_pos", (s, dir) => docTokens(s, dir).select(col("doc_id"),
      explode(Normalize.lemmaLookupPos(col("tokens"), PosLexicon,
        allowed = Set("NOUN", "VERB"))).as("token")),
      // hand-compiled replay of PosLexicon ∘ allowlist {NOUN, VERB}: the four
      // ADJ tokens are the only drops; agg/dup the only lemma rewrites
      Some(s"""SELECT doc_id, unnest(list_transform(
            list_filter($OracleTokens,
              tk -> tk NOT IN ('fast', 'slow', 'big', 'small')),
            tk -> CASE tk WHEN 'agg' THEN 'aggregate'
                          WHEN 'dup' THEN 'duplicate' ELSE tk END)) AS token
          FROM documents""")),

    // T7 — deterministic sample (hash-ordered top-20; reservoir analog)
    Gate("q33_sample", (s, dir) => t(s, dir, "orders")
      .orderBy(md5(col("o_orderkey").cast("string")), col("o_orderkey"))
      .limit(20).select("o_orderkey", "o_custkey"),
      Some("""SELECT o_orderkey, o_custkey FROM orders
         ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey LIMIT 20""")),

    // A10 — per-route token histogram (route × token rollup, top slice).
    // The histogram derives from the SHARED per-doc term-count
    // aggregate (docTermCounts — the one materialization the whole vocab
    // tier reads) joined to the per-doc route, instead of re-exploding
    // every token occurrence: count per (route, token) ≡ Σ over the
    // route's docs of that doc's term count, and the corpus-sized explode
    // shuffle collapses to a doc-keyed join of pre-aggregated rows.
    Gate("q34_route_hist", (s, dir) => {
      val routed = Router.route(docTokens(s, dir), "tokens")
        .select(col("doc_id"), col("route"))
      docTermCounts(s, dir).join(routed, Seq("doc_id"))
        .groupBy("route", "token").agg(sum(col("cnt")).as("cnt"))
        .filter(col("cnt") >= 10)
    },
      Some(s"""WITH routed AS (
            SELECT doc_id, $OracleTokens AS tokens, $OracleRoute AS route
            FROM documents),
          tok AS (SELECT route, unnest(tokens) AS token FROM routed)
          SELECT route, token, count(*) AS cnt
          FROM tok GROUP BY 1, 2 HAVING count(*) >= 10""")),

    // sessionization — gap > 600s opens a new session per user (exact
    // integer microsecond math: truncating to seconds diverges at edges)
    Gate("q35_sessionize", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      // ts is TIMESTAMP_NTZ; cast is identity under the UTC session zone
      val us = unix_micros(col("ts").cast("timestamp"))
      t(s, dir, "events")
        .withColumn("prev_us", lag(us, 1).over(w))
        .withColumn("new_sess",
          when(col("prev_us").isNull || (us - col("prev_us")) > 600000000L, 1)
            .otherwise(0))
        .withColumn("session_idx",
          sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("event_id"), col("user_id"), col("session_idx"))
    },
      Some("""WITH e AS (
           SELECT event_id, user_id, ts, epoch_us(ts) AS us,
             lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
           FROM events),
         f AS (
           SELECT event_id, user_id, ts,
             CASE WHEN prev_us IS NULL OR us - prev_us > 600000000 THEN 1 ELSE 0 END AS new_sess
           FROM e)
         SELECT event_id, user_id,
           CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
         FROM f""")),

    // multimodal plumbing over the deterministic synthetic media table —
    // payloads are pure id-arithmetic, so DuckDB replays them and all three
    // queries are oracle-checked.
    Gate("q36_media_meta", (s, dir) =>
      graft.multimodal.Multimodal.metaDistribution(
        graft.multimodal.Multimodal.synthetic(s, 300)),
      // ---- multimodal: DuckDB replays the synthetic generator (pure id
      // arithmetic — Multimodal.synthetic: len = 64 + id%64, byte_i =
      // (id*31 + i*7) % 251, bucket = byte >> 5; kind = id%3).
      Some("""SELECT CASE s % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                ELSE 'video' END AS kind,
           'fake' AS codec, count(*) AS count
         FROM generate_series(0, 299) t(s) GROUP BY 1, 2""")),
    // features are Array[Float]; the driver's pandas checker can't hash
    // arrays, so the checked projection is scalar:
    // posexplode + integer histogram-count recovery (round(value·n_bytes) is
    // exact — counts ≤ 127 and float error ≪ 0.5).
    Gate("q37_media_features", (s, dir) => {
      val m = graft.multimodal.Multimodal.synthetic(s, 300)
      val lens = m.select(col("media_id"), length(col("payload")).as("n_bytes"))
      graft.multimodal.Multimodal.extractFeatures(m)
        .select(col("media_id"), posexplode(col("features")).as(Seq("feat_idx", "value")))
        .join(broadcast(lens), Seq("media_id"))
        .select(col("media_id"), col("feat_idx"),
          round(col("value").cast("double") * col("n_bytes")).cast("long").as("hist_count"),
          col("n_bytes"))
    },
      Some("""WITH m AS (
           SELECT CAST(s AS BIGINT) AS media_id, CAST(64 + s % 64 AS INT) AS n_bytes
           FROM generate_series(0, 299) t(s)),
         cnt AS (
           SELECT m.media_id,
             CAST(((m.media_id * 31 + i.i * 7) % 251) // 32 AS INT) AS feat_idx,
             count(*) AS c
           FROM m JOIN generate_series(0, 126) i(i) ON i.i < m.n_bytes
           GROUP BY 1, 2),
         idx AS (SELECT CAST(s AS INT) AS feat_idx FROM generate_series(0, 7) t(s))
         SELECT m.media_id, idx.feat_idx,
           CAST(coalesce(cnt.c, 0) AS BIGINT) AS hist_count, m.n_bytes
         FROM m CROSS JOIN idx
         LEFT JOIN cnt ON cnt.media_id = m.media_id AND cnt.feat_idx = idx.feat_idx""")),
    Gate("q38_frame_sample", (s, dir) =>
      graft.multimodal.Multimodal.frameSample(
        graft.multimodal.Multimodal.synthetic(s, 300), stepMs = 1000),
      Some("""WITH v AS (
           SELECT CAST(s AS BIGINT) AS media_id, 1000 + s % 9000 AS dur
           FROM generate_series(0, 299) t(s) WHERE s % 3 = 2)
         SELECT media_id, CAST(f.f AS INT) AS frame_idx,
           CAST(f.f * 1000 AS INT) AS frame_ts_ms
         FROM v JOIN generate_series(0, 9) f(f)
           ON f.f < CAST(ceil(dur / 1000.0) AS INT)""")),

    // REAL image decode under the gate: genuine arithmetic-built BMPs →
    // javax.imageio decode → integer ppm channel means; the oracle replays
    // the pixel arithmetic, so a green row proves an ACTUAL decoder
    // round-trip (headers, bottom-up rows, padding, BGR order) with no
    // external codec: ImageIO is JDK-bundled.
    Gate("q63_image_decode", (s, dir) =>
      graft.multimodal.Multimodal.extractImageFeatures(
        graft.multimodal.Multimodal.syntheticBmp(s, 300)),
      Some(oracleImages(300))),

    // REAL audio decode under the gate: genuine RIFF/WAVE PCM payloads →
    // javax.sound.sampled decode → integer sample stats; oracle replays the
    // sample arithmetic.
    Gate("q64_audio_decode", (s, dir) =>
      graft.multimodal.Multimodal.extractAudioFeatures(
        graft.multimodal.Multimodal.syntheticWav(s, 300)),
      Some(oracleAudio(300))),

    // REAL video decode under the gate: genuine MJPEG-in-AVI containers → bounds-checked RIFF
    // walk (ours — the JDK has no demuxer) → per-frame ImageIO JPEG decode
    // (independent codec) → 32-wide level grid. The oracle replays frame
    // count, order, dimensions and per-frame level from id arithmetic; the
    // levels vary per frame_idx, so a reversed or resequenced walk fails.
    Gate("q69_video_decode", (s, dir) =>
      graft.multimodal.Multimodal.extractVideoFrames(
        graft.multimodal.Multimodal.syntheticAvi(s, 300)),
      // A green row proves the container walk found exactly the encoded
      // frames IN ORDER and ImageIO recovered each frame's gray level on the
      // 32-wide grid.
      Some(oracleVideo(300))),

    // T2 scale path #2 — IVF ANN (next to q47's LSH): coarse quantizer =
    // grid-rounded empirical centroids of the SAME shared kmeans
    // clustering q40 exports, so the oracle replays the ENTIRE procedure
    // from q40's export + the embeddings table: list assignment and probe
    // routing in exact integer arithmetic, candidate rescore in per-row
    // array-order cosine. Lists are data-adaptive where LSH's hyperplanes
    // are data-oblivious — the recall/cost tradeoff a real corpus wants.
    // nprobe left at the SIZED DEFAULT (Ann.nprobeFor: ⌈0.8·nlist⌉ = 8 of
    // 10 lists): an explicit nprobe=3 gives a 20–47% recall ANN with no
    // warning, while the default path reads ≥80% recall at every sf (q72
    // checks the number).
    Gate("q70_ann_ivf", annIvf,
      // The ENTIRE IVF procedure replayed at the default-sized probe routing
      // (nprobeFor: 8 of 10 lists). Only the final cosine runs in floats
      // (the q27 pattern).
      Some(s"""WITH ${oracleIvf(Seq(8))}
         $OracleTop5""")),

    // REAL resize under the gate: the payload itself is rewritten (ImageIO
    // decode → exact integer nearest-neighbor sx=⌊x·sw/w⌋ → 24-bit BMP
    // re-encode), then decoded AGAIN by the same guarded reader — a green
    // row proves the whole decode→transform→encode→decode loop, positions
    // included (the q63 weighted sum). 6×4 straddles the corpus dims
    // (w 4–7, h 3–5): axes upscale and downscale in the same sweep.
    Gate("q71_resize_decode", (s, dir) =>
      graft.multimodal.Multimodal.extractImageFeatures(
        graft.multimodal.Multimodal.resize(
          graft.multimodal.Multimodal.syntheticBmp(s, 300), 6, 4)),
      // q71 — the resize loop replayed: every 6×4 output pixel is source
      // pixel (sx, sy) = (⌊x·sw/6⌋, ⌊y·sh/4⌋) of the q63 arithmetic image,
      // then the q63 stats over the RESIZED raster (ppm floor-div by 24,
      // weighted sum with w=6). A green row proves decode, the integer
      // resample map, the BMP re-encode, and the second decode all agree.
      Some(s"""WITH src AS (
           SELECT CAST(s AS BIGINT) AS media_id, x.x AS x, y.y AS y,
             (x.x * (4 + s % 4)) // 6 AS sx, (y.y * (3 + s % 3)) // 4 AS sy
           FROM generate_series(0, 299) t(s)
           CROSS JOIN generate_series(0, 5) x(x)
           CROSS JOIN generate_series(0, 3) y(y)),
         agg AS (
           SELECT media_id, ${oracleBmpSums("sx", "sy", "y * 6 + x + 1")}
           FROM src GROUP BY 1)
         SELECT media_id, TRUE AS decoded,
           CAST(6 AS INT) AS width, CAST(4 AS INT) AS height,
           CAST(sr * 1000000 // 24 AS BIGINT) AS r_ppm,
           CAST(sg * 1000000 // 24 AS BIGINT) AS g_ppm,
           CAST(sb * 1000000 // 24 AS BIGINT) AS b_ppm,
           CAST(wr AS BIGINT) AS r_wsum
         FROM agg""")),

    // ANN recall@k — the quality metric a deployment tunes nprobe/bits
    // against: per probe, the fraction of the EXACT top-k (q27) that each
    // approximate path (q70 IVF, q47 LSH) recovered, in integer ppm (hits
    // · 10^6 DIV k — no float division, both engines exact). Composes the
    // three gated queries; the oracle replays it from their own exports.
    Gate("q72_ann_recall", (s, dir) => {
      val brute = annExact(s, dir)
      def recallOf(method: String, approx: DataFrame): DataFrame =
        brute.as("b").join(approx.as("i"),
          col("b.p_key") === col("i.p_key") &&
            col("b.c_key") === col("i.c_key"), "left_outer")
          .groupBy(col("b.p_key").as("p_key"))
          .agg(expr("CAST(sum(CASE WHEN i.c_key IS NOT NULL THEN 1 ELSE 0 END)" +
            " * 1000000 DIV count(*) AS BIGINT)").as("recall_ppm"))
          .select(lit(method).as("method"), col("p_key"), col("recall_ppm"))
      recallOf("ivf", annIvf(s, dir))
        .unionAll(recallOf("lsh", annLsh(s, dir)))
    },
      // q72 — recall replayed from the three ANN exports themselves: per
      // probe, |approx ∩ exact| · 10^6 DIV k, integer end to end.
      Some(s"""WITH $OracleExactTopK,
         iv AS (SELECT p_key, c_key
                FROM read_parquet('__VERIFY_OUT__/q70_ann_ivf/*.parquet')),
         ls AS (SELECT p_key, c_key
                FROM read_parquet('__VERIFY_OUT__/q47_ann_lsh/*.parquet'))
         SELECT 'ivf' AS method, b.p_key, ${oracleRecallPpm("iv")} AS recall_ppm
         FROM b LEFT JOIN iv ON iv.p_key = b.p_key AND iv.c_key = b.c_key
         GROUP BY 2
         UNION ALL
         SELECT 'lsh' AS method, b.p_key, ${oracleRecallPpm("ls")} AS recall_ppm
         FROM b LEFT JOIN ls ON ls.p_key = b.p_key AND ls.c_key = b.c_key
         GROUP BY 2""")),

    // The curation chain's near-dup survivors (graft.corpus.Curation.build):
    // quality gate → exact dedup → MinHash near-dup prune, each stage a
    // gated operator (q20/q21/q45). The survivors are a shared checkpointed
    // stage of the chain q82 packs. The oracle replays the composition.
    Gate("q74_curation", (s, dir) =>
      curation(s, dir).survivors.select(col("doc_id"), col("quality_ppm")),
      // q74 — the full curation composition replayed: the q20 quality
      // formula at the 650000 gate, the q21 md5 keeper over the qualified
      // set, then the q45 minhash banding over the unique survivors with
      // the drop rule slots ≥ 8 (est_jaccard ≥ 0.5 exactly — slots/16 is a
      // 1/16 grid, so the integer compare cannot disagree with the float).
      Some(s"""WITH $OracleQuality,
         qual AS (SELECT * FROM q WHERE quality_ppm >= 650000),
         ${oracleKeepers("qual")},
         uniq AS (
           SELECT q.doc_id, q.text, q.quality_ppm
           FROM qual q JOIN fp ON fp.doc_id = q.doc_id
           JOIN keepers k ON k.fingerprint = fp.fingerprint AND k.keeper = q.doc_id),
         d AS (SELECT doc_id, string_split(text, ' ') AS w FROM uniq),
         ${oracleNearDupSlots(maxBucket = 0)},
         dropped AS (SELECT DISTINCT key_b AS doc_id FROM m WHERE slots >= 8)
         SELECT u.doc_id, u.quality_ppm FROM uniq u
         WHERE NOT EXISTS (SELECT 1 FROM dropped x WHERE x.doc_id = u.doc_id)""")),

    // The IVF nprobe→recall curve — the tradeoff a deployment tunes: mean
    // recall ppm across probes at nprobe ∈ {1, 3, 5, 8} (visiting 10–80% of
    // a 10-list corpus; 8 is the shipped default, Ann.nprobeFor — the curve
    // shows what the default buys and what tuning down costs). Monotone by
    // construction (routed lists are nested); the oracle replays every
    // point from q40's export.
    Gate("q73_ivf_nprobe_curve", (s, dir) => {
      val (_, emb) = kmeansFitted(s, dir)
      val probes = emb.filter(col("vec_id") < 3)
      // same (corpus, probes, k) as q27 — reuse its shared persisted result
      // instead of a third exact corpus scan
      val brute = annExact(s, dir)
      val quant = ivfQuantizerShared(s, dir)
      // every curve point reads the ONE persisted corpus assignment — the
      // argmin scan is nprobe-independent
      val assigned = ivfAssignedShared(s, dir)
      Seq(1, 3, 5, 8).map { np =>
        val ivf = Ann.ivfTopKAssigned(assigned, probes, quant, "vec_id",
          "embedding", k = 5, nprobe = np)
        brute.as("b").join(ivf.as("i"),
          col("b.p_key") === col("i.p_key") &&
            col("b.c_key") === col("i.c_key"), "left_outer")
          .agg(expr("CAST(sum(CASE WHEN i.c_key IS NOT NULL THEN 1 ELSE 0 END)" +
            " * 1000000 DIV count(*) AS BIGINT)").as("mean_recall_ppm"))
          .select(lit(np).as("nprobe"), col("mean_recall_ppm"))
      }.reduce(_ unionAll _)
    },
      // q73 — the q70 IVF replay parametrized by nprobe ∈ {1,3,5,8}: same
      // centroid/assignment/routing arithmetic from q40's export, candidate
      // top-5 per (nprobe, probe), recall vs q27's exact export, integer ppm.
      Some(s"""WITH ${oracleIvf(Seq(1, 3, 5, 8))},
         ivf AS (SELECT nprobe, p_key, c_key FROM ranked WHERE rk <= 5),
         $OracleExactTopK,
         bn AS (SELECT n.nprobe, b.p_key, b.c_key FROM b CROSS JOIN np n)
         SELECT CAST(bn.nprobe AS INT) AS nprobe,
           ${oracleRecallPpm("i")} AS mean_recall_ppm
         FROM bn LEFT JOIN ivf i ON i.nprobe = bn.nprobe
           AND i.p_key = bn.p_key AND i.c_key = bn.c_key
         GROUP BY 1""")),

    // S3 UNDER THE GATE: real BMP/WAV/AVI files on
    // DISK, ingested through the production `binaryFile` source
    // (Multimodal.fromBinaryFiles — extension→kind routing, payload as a
    // binary column), routed by kind into the SAME three real decoders the
    // q63/q64/q69 gates pin, with the arithmetic keyed by the id embedded
    // in the FILENAME. One long-form schema (kind, file_id, metric, value)
    // so all three decode tiers share one oracle; a green row proves the
    // whole bytes-on-disk → source → decode → features path. A codec-less
    // .bin file rides along and surfaces as the 'binary' fallback kind —
    // its n_bytes row is under the gate too, so the extension→kind routing
    // of unknown blobs is checked, not assumed (the _READY marker can't do
    // this: Spark file sources skip underscore-prefixed files).
    Gate("q75_binary_source", (s, dir) => {
      val mm = graft.multimodal.Multimodal
      val media = mm.fromBinaryFiles(s, q75Media(math.floorMod(dir.hashCode, 1 << 30)))
        .withColumn("file_id",
          regexp_extract(col("path"), "_(\\d+)\\.[a-z]+$", 1).cast("long"))
      def byKind(kind: String): DataFrame =
        media.filter(col("meta.kind") === kind)
          .select(col("file_id").as("media_id"), col("payload"))
      def longForm(kind: String, df: DataFrame,
                   metrics: (String, Column)*): DataFrame =
        df.select(lit(kind).as("kind"), col("media_id").as("file_id"),
          explode(map(metrics.flatMap { case (n, c) =>
            Seq(lit(n), c.cast("long")) }: _*)).as(Seq("metric", "value")))
      val img = longForm("image", mm.extractImageFeatures(byKind("image")),
        "decoded" -> col("decoded").cast("int"), "width" -> col("width"),
        "height" -> col("height"), "r_ppm" -> col("r_ppm"),
        "g_ppm" -> col("g_ppm"), "b_ppm" -> col("b_ppm"),
        "r_wsum" -> col("r_wsum"))
      val aud = longForm("audio", mm.extractAudioFeatures(byKind("audio")),
        "decoded" -> col("decoded").cast("int"),
        "sample_rate" -> col("sample_rate"), "n_samples" -> col("n_samples"),
        "sum_pcm" -> col("sum_pcm"), "sum_abs_pcm" -> col("sum_abs_pcm"),
        "wsum_pcm" -> col("wsum_pcm"))
      val frames = mm.extractVideoFrames(byKind("video"))
      val vid = frames.select(lit("video").as("kind"),
        col("media_id").as("file_id"),
        format_string("f%02d_level", col("frame_idx")).as("metric"),
        col("level").cast("long").as("value"))
      val vidN = frames.groupBy(col("media_id").as("file_id"))
        .agg(count(lit(1)).as("value"))
        .select(lit("video").as("kind"), col("file_id"),
          lit("n_frames").as("metric"), col("value"))
      val bin = media.filter(col("meta.kind") === "binary")
        .select(lit("binary").as("kind"), col("file_id"),
          lit("n_bytes").as("metric"), length(col("payload")).cast("long")
            .as("value"))
      img.unionAll(aud).unionAll(vid).unionAll(vidN).unionAll(bin)
    },
      // q75 — the on-disk binaryFile gate replayed: the q63 pixel arithmetic,
      // the q64 sample arithmetic and the q69 frame arithmetic for file ids
      // 0..19, in the query's long form (kind, file_id, metric, value).
      Some(s"""WITH img AS (${oracleImages(Q75Files)}),
         aud AS (${oracleAudio(Q75Files)}),
         vid AS (${oracleVideo(Q75Files)})
         SELECT 'image' AS kind, media_id AS file_id, 'decoded' AS metric,
           CAST(decoded AS BIGINT) AS value FROM img
         UNION ALL SELECT 'image', media_id, 'width', width FROM img
         UNION ALL SELECT 'image', media_id, 'height', height FROM img
         UNION ALL SELECT 'image', media_id, 'r_ppm', r_ppm FROM img
         UNION ALL SELECT 'image', media_id, 'g_ppm', g_ppm FROM img
         UNION ALL SELECT 'image', media_id, 'b_ppm', b_ppm FROM img
         UNION ALL SELECT 'image', media_id, 'r_wsum', r_wsum FROM img
         UNION ALL SELECT 'audio', media_id, 'decoded', CAST(decoded AS BIGINT) FROM aud
         UNION ALL SELECT 'audio', media_id, 'sample_rate', sample_rate FROM aud
         UNION ALL SELECT 'audio', media_id, 'n_samples', n_samples FROM aud
         UNION ALL SELECT 'audio', media_id, 'sum_pcm', sum_pcm FROM aud
         UNION ALL SELECT 'audio', media_id, 'sum_abs_pcm', sum_abs_pcm FROM aud
         UNION ALL SELECT 'audio', media_id, 'wsum_pcm', wsum_pcm FROM aud
         UNION ALL SELECT 'video', media_id, printf('f%02d_level', frame_idx),
           level FROM vid
         UNION ALL SELECT 'video', media_id, 'n_frames', count(*)
           FROM vid GROUP BY media_id
         UNION ALL SELECT 'binary', 1, 'n_bytes', 7""")),

    // STREAMING UNDER THE GATE: the documents-
    // derived transcript corpus staged to parquet files, replayed through
    // the Structured Streaming twin of the extraction kernel
    // (StreamingExtract.fromParquetDir — file source, AvailableNow trigger,
    // checkpointed parquet sink), and the SINK read back as the query
    // result. The oracle is q30's (per-turn text equality) — a green row is
    // the batch ≡ stream contract under the same DuckDB discipline as every
    // batch gate, not just the spec pin. Per-run nanoTime subdir: a reused
    // checkpoint would mark the staged files already-processed and emit
    // nothing on the second sweep.
    Gate("q76_streaming_extract", (s, dir) => {
      val base = stageDir("graft_q76_stream", math.floorMod(dir.hashCode, 1 << 30))
      // drop PREVIOUS run subdirs before staging a new one, so a session
      // that runs this query many times keeps one staging copy, not one
      // per run. Safe: each invocation streams and reads back its OWN
      // nanoTime subdir; older subdirs are never re-read. The staged INPUT
      // corpus is kept: it is a deterministic function of the documents
      // file, so re-writing it per invocation would be pure staging
      // overhead — what must stay fresh per run is the checkpoint + sink,
      // and does.
      val inDir = s"$base/in"
      val prev = new java.io.File(base).listFiles()
      if (prev != null)
        prev.filterNot(f => f.getName == "in" || f.getName == "in_stamp")
          .foreach(deleteRecursively)
      // the staged-input marker carries the FULL sf dir string and the
      // documents file's size and mtime: the base dir is keyed by a 2^30
      // hash, so two sf dirs sharing a bucket, or a documents file
      // rewritten in place, re-stage rather than stream a stale corpus
      val stamp = new java.io.File(base, "in_stamp")
      val want = s"$dir\n${sizeAndMtime(new java.io.File(s"$dir/documents.parquet"))}"
      val stampOk = stamp.exists &&
        new String(java.nio.file.Files.readAllBytes(stamp.toPath),
          java.nio.charset.StandardCharsets.UTF_8) == want
      if (!stampOk || !new java.io.File(s"$inDir/_SUCCESS").exists) {
        deleteRecursively(new java.io.File(inDir))
        Transcripts.fromDocuments(s, dir)
          .write.mode("overwrite").parquet(inDir)
        java.nio.file.Files.write(stamp.toPath,
          want.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        ()
      }
      val run = s"$base/${System.nanoTime()}"
      val q = graft.streaming.StreamingExtract.fromParquetDir(s, inDir)
        .select(col("conv_id"), col("turn_idx"), col("text"))
        .writeStream.format("parquet")
        .option("path", s"$run/out")
        .option("checkpointLocation", s"$run/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(s"$run/out").select("conv_id", "turn_idx", "text")
    },
      // q76 — the streaming twin must land on exactly the batch contract:
      // per-turn text equality (q30's oracle).
      Some(oracleTurnText("text"))),

    // Dup-cluster assembly — the step a production dedup pipeline runs
    // AFTER candidate generation: connected components (hash-min label
    // propagation, CcIters rounds) over the q51 embedding near-dup pair
    // graph. "Keep min(key) per component" generalizes the pairwise
    // greedy-by-id rule to transitive chains (A≈B, B≈C dedupe to ONE
    // keeper even when A≉C). Every round is deterministic integer math,
    // so the oracle replays the edge build (q51's SQL) and every round;
    // the engine ASSERTS the fixpoint (one extra round changes nothing)
    // so CcIters covering the component diameters is checked, not hoped.
    // Threshold 0.4 (vs q51's 0.3): measured hash-min depth at 0.3 is
    // 8/18/19 rounds across the sfs (long chains — exactly the regime
    // where production swaps in large-star/small-star), while 0.4 keeps a
    // real transitive graph (197 edges, 5 rounds, 2000→1803 components at
    // sf0.1) inside a 6-round unroll the oracle can replay.
    // The labels are registered as they come: connectedComponents returns
    // its last round eagerly checkpointed and has freed every earlier
    // round, so a second checkpoint in sharedResult would only strand that
    // round's RDD out of releaseShared's reach.
    Gate("q77_dup_components", (s, dir) => artifact(s, dir, "cc") {
      val emb = t(s, dir, "embeddings")
      val edges = Dedup.embeddingDupLsh(emb, "vec_id", "embedding",
          threshold = 0.4, dim = 64, bits = 4)
        .select(col("key_a").as("src"), col("key_b").as("dst"))
        .persist()
      val labels = Dedup.connectedComponents(
        emb.select(col("vec_id")), "vec_id", edges, iters = CcIters)
      require(Dedup.converged(labels, "vec_id", edges),
        s"q77: hash-min did not converge in $CcIters rounds — a component's " +
          "diameter outgrew the oracle's unrolled replay; raise CcIters " +
          "in BOTH places or switch to large-star/small-star")
      edges.unpersist()
      labels
    }(Scale.unpersistCheckpoint),
      // q77 — dup clusters replayed end to end: the q51 candidate-pair build
      // (deterministic hyperplane buckets → same-bucket cosine ≥ 0.3), edge
      // symmetrization, then EXACTLY CcIters unrolled hash-min rounds — the
      // same deterministic min the engine iterates (the engine additionally
      // asserts the fixpoint, so "enough rounds" is checked on both sides).
      Some(s"""WITH ${oracleEmbedDup(0.4)},
         sym AS (SELECT key_a AS src, key_b AS dst FROM pairs
                 UNION ALL SELECT key_b AS src, key_a AS dst FROM pairs),
         l0 AS (SELECT vec_id, vec_id AS c FROM embeddings),
         $OracleCcRounds
         SELECT vec_id, CAST(c AS BIGINT) AS component FROM l$CcIters""")),

    // Sequence packing — the GPT-style concat-and-split block map
    // (corpus.Packing): docs concatenated in doc_id order with one EOS
    // each, cut into 256-token blocks; output maps every doc to the
    // block(s) its global token span [start_tok, end_tok) touches. The
    // operator is a DISTRIBUTED prefix sum (bucketed two-pass cumsum —
    // never a global single-partition window; bucketSize=128 keeps
    // multiple buckets live at the gated sfs so the two-pass path is what
    // is checked). Integer-only, so the oracle replays it with a plain
    // SQL running sum.
    Gate("q78_seq_packing", (s, dir) =>
      graft.corpus.Packing.packSpans(t(s, dir, "documents"), "doc_id",
        "text", blockTokens = 256, bucketSize = 128),
      // Integer-only: the engine's bucketed two-pass prefix sum must land on
      // exactly the plain SQL running sum's numbers.
      Some(s"WITH ${oraclePacking("documents")}")),

    // PII redaction — the curation stage that runs before any text leaves
    // the pipeline (TextStats.redactPii): emails, 32+-char hex blobs,
    // IPv4s and 7+-digit runs replaced by typed placeholders with
    // per-kind counts. The fixture corpus is PII-free, so every doc is
    // seeded with a deterministic PII sentence built from its id (the q67
    // pattern) — the gate proves the PATTERNS and their order, not just
    // the plumbing. Patterns are RE2-safe by construction; the oracle
    // applies the same rules from the same shared table.
    Gate("q79_pii_redact", (s, dir) => {
      val d = col("doc_id")
      val seeded = t(s, dir, "documents").select(col("doc_id"),
        concat(
          lit("contact a"), d.cast("string"),
          lit("@ex"), pmod(d, lit(7)).cast("string"),
          lit(".com ip 10.0."), pmod(d, lit(256)).cast("string"),
          lit("."), pmod(d, lit(100)).cast("string"),
          lit(" key "), lpad(hex(d * lit(2654435761L)), 32, "0"),
          lit(" acct "), lpad(d.cast("string"), 9, "0"),
          lit(" "), col("text")).as("text"))
      seeded.select(col("doc_id"),
          graft.textstats.TextStatsExprs.redactPii(col("text")).as("r"))
        .select(col("doc_id"), col("r.redacted").as("text"),
          col("r.n_emails"), col("r.n_hexkeys"), col("r.n_ips"),
          col("r.n_numruns"))
    },
      // q79 — the redaction chain replayed rule-for-rule from the SAME
      // shared pattern table (TextStats.RedactionRules — interpolated, so
      // the SQL cannot drift from the engine), counts taken on the text as
      // it stands when each rule fires, RE2 ≡ Java regex by pattern
      // construction.
      Some(OracleRedactSql)),

    // Benchmark decontamination (the n-gram-overlap rule of the GPT-3/
    // Llama pretraining pipelines), the curation chain's decontamination
    // stage: the Curation.isBenchmark docs stand in as the eval suite; any
    // other doc sharing a shingle with them is flagged with its hit count.
    // The benchmark shingle set is BROADCAST (eval suites are tiny next to
    // the corpus), so the corpus side is one scan + a map-side probe + one
    // groupBy(doc_id) shuffle — never a corpus×corpus join. The shingle
    // length is non-degenerate at every sf (8/8/727 contaminated of
    // ~494/~494/~4948 docs).
    Gate("q80_decontaminate", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.corpus.Curation.contaminatedBy(
        docs.filter(!graft.corpus.Curation.isBenchmark(col("doc_id")))
          .select(col("doc_id"), split(col("text"), " ").as("tokens")),
        docs)
    },
      Some(s"""WITH d AS (
           SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id, unnest(${oracleShingles(4)}) AS sh FROM d),
         bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0),
         corpus AS (SELECT doc_id, sh FROM sh WHERE doc_id % 97 <> 0)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
         FROM corpus JOIN bench USING (sh) GROUP BY 1""")),

    // Deterministic mixture sampling: downsample every language to (in
    // expectation) the smallest language's share — lang is the one skewed
    // grouping in the corpus (en ≈ 3× the rest; `source` is uniform by
    // construction, probed). Rate-based (integer-ppm keep rates, portable
    // md5 row priority), NOT an exact-n window: a per-group window over a
    // handful of domains is a handful of giant skewed partitions at 100 TB,
    // while the rate filter is a per-row predicate. Its only shuffle is the
    // tiny per-group count, collected when the gate is built; the rates are
    // computed in the driver and filter the rows as a literal map.
    Gate("q81_mix_sample", (s, dir) =>
      graft.corpus.Curation.sampleToBalanced(
        t(s, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id", "lang"),
      Some(s"""WITH ${oracleBalancedRates("documents")}
         SELECT d.doc_id, d.lang
         FROM documents d JOIN r USING (lang)
         WHERE ${oracleSampled("d.doc_id")}""")),

    // Target-WEIGHTED mixture (the general form of q81): rebalance the
    // en-heavy corpus to an explicit 40/15/15/15/15 share. The weight
    // table is the SHARED MixTargetPpm constant — the oracle SQL is
    // generated from it (the q79 pattern), so the two sides cannot drift.
    // Same shape as q81: the per-group counts are collected when the gate
    // is built, and T and the rates are driver-side Long arithmetic.
    Gate("q83_mix_target", (s, dir) =>
      graft.corpus.Curation.sampleToTarget(
        t(s, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id", "lang", MixTargetPpm.toMap),
      // q83 — the driver's weighted-rate arithmetic replayed from the SAME
      // MixTargetPpm table the engine uses (interpolated, cannot drift):
      // T = min_g ⌊n_g·10⁶/p_g⌋, required_g = ⌊p_g·T/10⁶⌋,
      // rate_g = ⌊required_g·10⁶/n_g⌋, then the portable md5 row priority.
      Some({
      val vals = MixTargetPpm
        .map { case (g, p) => s"('$g', CAST($p AS BIGINT))" }.mkString(", ")
      s"""WITH w(lang, p_ppm) AS (VALUES $vals),
         c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY 1),
         j AS (SELECT c.lang, c.cnt, w.p_ppm FROM c JOIN w USING (lang)),
         t AS (SELECT min(cnt * 1000000 // p_ppm) AS t FROM j),
         r AS (SELECT lang,
                 CAST((p_ppm * t // 1000000) * 1000000 // cnt AS BIGINT)
                   AS r_ppm
               FROM j, t)
         SELECT d.doc_id, d.lang
         FROM documents d JOIN r USING (lang)
         WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
           % 1000000 < r_ppm"""
    })),

    // Repetition quality dimension (the duplicate-n-gram family of
    // pretraining quality filters): distinct-token share and duplicate-
    // bigram share per doc, integer ppm. Pure per-row array arithmetic —
    // no explode, no shuffle, stays inside whole-stage codegen; bigrams
    // via the same Dedup.shingles slice the q28/q80 gates pin.
    Gate("q84_repetition", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("tokens"))
        .select(col("doc_id"),
          size(col("tokens")).cast("long").as("nt"),
          size(array_distinct(col("tokens"))).cast("long").as("nd"),
          size(graft.dedup.Dedup.shingles(col("tokens"), 2)).cast("long")
            .as("nb"),
          size(array_distinct(graft.dedup.Dedup.shingles(col("tokens"), 2)))
            .cast("long").as("nbd"))
        .select(col("doc_id"),
          expr("CAST(nd * 1000000 DIV nt AS BIGINT)").as("distinct_tok_ppm"),
          expr("CAST((nb - nbd) * 1000000 DIV nb AS BIGINT)")
            .as("dup_bigram_ppm")),
      // q84 — same bigram slice semantics as the q28/q80 oracles; all
      // integer ppm so the compare is exact.
      Some("""WITH d AS (
           SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         b AS (
           SELECT doc_id, w,
             list_transform(generate_series(1, greatest(len(w) - 1, 1)),
               i -> array_to_string(w[i:i+1], ' ')) AS bg
           FROM d)
         SELECT doc_id,
           CAST(len(list_distinct(w)) * 1000000 // len(w) AS BIGINT)
             AS distinct_tok_ppm,
           CAST((len(bg) - len(list_distinct(bg))) * 1000000 // len(bg)
             AS BIGINT) AS dup_bigram_ppm
         FROM b""")),

    // The full corpus build: the curation chain's block map
    // (graft.corpus.Curation.build) — q74's survivors → benchmark
    // decontamination (q80's broadcast shingle probe, here as an anti-join)
    // → balanced-lang mixture sampling (q81's rate filter, rates over the
    // clean set) → sequence packing (q78's distributed prefix sum) into
    // 256-token blocks. The oracle replays the tail from q74's own gated
    // export (the __VERIFY_OUT__ cross-read pattern), so every stage is
    // pinned twice: by its standalone gate and inside the composition.
    // `graft.app.CurationJob` runs the same chain through staged tables.
    Gate("q82_corpus_build", (s, dir) => curation(s, dir).blocks,
      // q82 — the composition replayed from q74's own gated export (the
      // __VERIFY_OUT__ cross-read pattern): decontaminate against the
      // corpus-wide benchmark shingles, re-derive the mixture rates over the
      // CLEAN set, then the q78 running-sum block map over the kept docs.
      Some(s"""WITH surv AS (
           SELECT doc_id
           FROM read_parquet('__VERIFY_OUT__/q74_curation/*.parquet')),
         base AS (
           SELECT d.doc_id, d.text, d.lang FROM documents d
           JOIN surv USING (doc_id)),
         shb AS (
           SELECT DISTINCT unnest(${oracleShingles(4)}) AS sh
           FROM (SELECT string_split(text, ' ') AS w FROM documents
                 WHERE doc_id % 97 = 0)),
         shc AS (
           SELECT doc_id, unnest(${oracleShingles(4)}) AS sh
           FROM (SELECT doc_id, string_split(text, ' ') AS w FROM base)),
         contam AS (SELECT DISTINCT doc_id FROM shc JOIN shb USING (sh)),
         clean AS (
           SELECT b.* FROM base b
           WHERE NOT EXISTS (SELECT 1 FROM contam x
                             WHERE x.doc_id = b.doc_id)),
         ${oracleBalancedRates("clean")},
         kept AS (
           SELECT c.doc_id, c.text FROM clean c JOIN r USING (lang)
           WHERE ${oracleSampled("c.doc_id")}),
         ${oraclePacking("kept")}""")),

    // SimHash near-dup — md5-portable 32-bit signature so DuckDB replays it;
    // maxHamming=3 < bands=4 makes the banded join pigeonhole-EXACT, i.e.
    // identical to the oracle's all-pairs scan (radius 16 over 4 bands would
    // silently lose pairs at distance 4..16). The xxhash64 64-bit
    // production path is pinned by DedupSpec.
    Gate("q39_simhash", (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), split(col("text"), " ").as("tokens"))
      Dedup.simhashDupMd5(docs, "doc_id", "tokens", maxHamming = 3)
    },
      // ---- SimHash (md5-portable 32-bit variant; all-pairs scan is exact
      // because maxHamming=3 < bands=4 makes the Spark-side banding lossless)
      Some(s"""WITH ${oracleSample("text")},
         tok AS (SELECT doc_id, unnest(w) AS t FROM d),
         h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 8))::BIGINT AS hv FROM tok),
         votes AS (
           SELECT doc_id, b.b AS bit,
             sum(CASE WHEN (hv >> CAST(b.b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS vote
           FROM h CROSS JOIN generate_series(0, 31) b(b) GROUP BY 1, 2),
         sig AS (
           SELECT doc_id, CAST(sum(CASE WHEN vote > 0
             THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END) AS BIGINT) AS sh
           FROM votes GROUP BY 1)
         SELECT a.doc_id AS key_a, b.doc_id AS key_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
         FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.sh, b.sh)) <= 3""")),

    // Entry 4 — the wells data product chain (J1 semi → J2 broadcast join →
    // A9 one-hot → A8 rollup → J3 dimension join) in ONE job. Shared
    // persisted result: q62 writes THIS product through the CSV sink, so
    // the join/rollup chain behind its 25 rows runs once per session.
    Gate("q41_data_product", dataProduct,
      Some(OracleDataProduct)),

    // P12 — UTM→lat/lon enrichment (column math; pinned by UtmSpec oracle,
    // no portable SQL oracle for the Snyder series)
    Gate("q42_utm", (s, dir) => t(s, dir, "nation").select(
      col("n_nationkey"),
      graft.dims.Utm.toLatLon(
        lit(350000.0) + col("n_nationkey") * 10000.0,
        lit(4200000.0) + col("n_regionkey") * 50000.0, zone = 13).as("ll"))
      .select(col("n_nationkey"),
        round(col("ll.lat"), 6).as("lat"), round(col("ll.lon"), 6).as("lon")),
      // ---- P12 UTM inverse (Snyder series restated step-by-step in SQL with
      // JVM-folded constants; see Utm.oracleSql)
      Some(graft.dims.Utm.oracleSql(
      from = "nation", keyExpr = "n_nationkey",
      easting = "350000.0 + n_nationkey * 10000.0",
      northing = "4200000.0 + n_regionkey * 50000.0", zone = 13))),

    // M3 — MLlib KMeans tier over embeddings (seeded; maxIter 5: each
    // iteration is one full pass + broadcast centroids, and 5 holds the
    // KMeansSpec invariants). The iterative fit
    // itself is not replayable, so the oracle is a SELF-CONSISTENCY check
    // (the q50 pattern): alongside each assignment the query exports the
    // point's euclidean distance to the EMPIRICAL centroid (the mean of its
    // cluster's members), computed relationally — posexplode → group mean →
    // join → distance algebra — and the oracle recomputes every value from
    // the exported assignments + the embeddings table in SQL.
    // Exactness: the replay runs on the 1e-4 integer grid
    // — vq = floor(v·1e4 + 0.5) per component, and the distance to the
    // empirical centroid clears denominators, dist = sqrt(Σ(vq·cnt − Σvq)²)
    // / (cnt·1e4), so EVERY sum both engines compare is exact integer
    // arithmetic (order-independent; with |v| ≤ 1 and cnt ≤ 18k the
    // squared terms stay within long: Σ over 64 dims of (2e4·n)² needs
    // 64·(2e4·18000)² = 8.3e18 < 2^63−1, while n=19000 would reach
    // 9.24e18 and wrap — the require below fails loudly before the bound
    // can silently overflow, the q47 pattern). The
    // old double-summation spelling could diverge from DuckDB in the last
    // ulp and flip the 6dp round at a boundary; on the grid the engines
    // cannot diverge at all.
    Gate("q40_kmeans", (s, dir) => {
      val (model, emb) = kmeansFitted(s, dir)
      val asg = model.transform(emb).select(col("vec_id"), col("label"),
        col("prediction").as("cluster"), col("embedding"))
      val pts = asg.select(col("vec_id"), col("cluster"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
        .withColumn("vq",
          floor(col("v").cast("double") * lit(1e4) + lit(0.5)).cast("long"))
      val org.apache.spark.sql.Row(maxAbs: Double, nVec: Long) = emb
        .select(aggregate(col("embedding"), lit(0.0d),
          (acc, x) => greatest(acc, abs(x.cast("double")))).as("m"))
        .agg(max(col("m")).cast("double"), count(lit(1))).head()
      require(maxAbs <= 1.0 && nVec <= 18000L,
        s"q40 grid arithmetic is sized for |v|<=1, n<=18k; got max|v|=$maxAbs, n=$nVec")
      val cent = pts.groupBy("cluster", "dim")
        .agg(sum("vq").as("s4"), count(lit(1)).as("cnt"))
      val dist = pts.join(cent, Seq("cluster", "dim"))
        .withColumn("t", col("vq") * col("cnt") - col("s4"))
        .groupBy("vec_id")
        .agg(round(sqrt(sum(col("t") * col("t")).cast("double"))
          / (max(col("cnt")) * lit(1e4)), 6).as("dist2c"))
      asg.drop("embedding").join(dist, "vec_id")
    },
      // M3 — distance-to-empirical-centroid replayed from the exported
      // assignments: per-cluster per-dim means, then euclidean distance
      // (6dp). The fit is taken as given; the group-mean + distance algebra
      // is cross-engine-verified — on the SAME 1e-4 integer grid the engine
      // uses, with denominators cleared (dist = sqrt(Σ(vq·cnt − Σvq)²) /
      // (cnt·1e4)), so every compared sum is exact integer arithmetic and
      // the summation-order flake class is structurally
      // closed. HUGEINT keeps the squared terms exact (DuckDB sums BIGINT
      // into HUGEINT anyway; the cast makes it explicit).
      Some(s"""WITH $OracleKmeansGrid,
         cent AS (SELECT cluster, dim, CAST(sum(vq) AS BIGINT) AS s4,
                    count(*) AS cnt FROM pts GROUP BY 1, 2),
         dist AS (SELECT vec_id,
                    round(sqrt(sum(CAST((vq * cnt - s4) AS HUGEINT)
                                   * (vq * cnt - s4))::DOUBLE)
                      / (max(cnt) * 10000.0), 6) AS dist2c
                  FROM pts JOIN cent USING (cluster, dim) GROUP BY 1)
         SELECT a.vec_id, a.label, a.cluster, d.dist2c
         FROM asg a JOIN dist d USING (vec_id)""")),

    // M2 — LSA: tfidf → truncated SVD(k=5) → L2 normalize (reference Entry 3
    // middle tier). The ARPACK fit is not SQL-replayable, but the projection
    // IS `tfidf · V` followed by an L2 normalize — so with V exported by q65
    // the oracle recomputes EVERY value from the documents table + the
    // query's own model export (the q40/q50/q52 self-consistency pattern
    // applied to LSA). FULL precision, no round:
    // the oracle echoes the same doubles from q65's export (tolerance-
    // checked against its recomputation), so rounding would only add a
    // cross-engine round() boundary risk. + 0.0 folds IEEE -0.0 in both
    // engines.
    Gate("q44_lsa", (s, dir) =>
      lsaProjection(s, dir)
        .select(col("doc_id"), posexplode(col("projection")).as(Seq("dim", "value")))
        .select(col("doc_id"), col("dim"),
          (col("value") + lit(0.0d)).as("value")),
      // M2 — the LSA projection replayed from q65's exported V: rebuild the
      // engine's full-precision tfidf (the shared dictionary chain, unrounded),
      // multiply by the exported loadings, L2-normalize per doc — then ECHO
      // the engine's own full-precision export (part='proj'), FILTERED to the
      // rows where the recomputation agrees within 1e-6. Both engines now
      // round IDENTICAL doubles, so the flake class (a value
      // within an ulp of a .00005 boundary rounding apart across DuckDB
      // ln()/group order vs Math.log/token order) is structurally closed —
      // a genuine arithmetic divergence ≥ 1e-6 (≫ cross-engine float noise
      // ~1e-12, ≪ the 1e-4 rounding step) drops that row from the oracle's
      // output and fails the row-count compare loudly. CASE nn = 0 mirrors
      // the engine's zero-norm passthrough.
      Some(s"""WITH $OracleDictionary,
          ld AS (SELECT i AS token_id, j AS dim, value AS ldg
                 FROM $OracleLsaExport
                 WHERE part = 'loading'),
          raw AS (SELECT t.doc_id, l.dim, sum(t.tfidf * l.ldg) AS r
                  FROM tfidf t JOIN ld l USING (token_id) GROUP BY 1, 2),
          nrm AS (SELECT doc_id, sqrt(sum(r * r)) AS nn FROM raw GROUP BY 1),
          ex AS (SELECT i AS doc_id, j AS dim, value AS v
                 FROM $OracleLsaExport
                 WHERE part = 'proj')
          SELECT ex.doc_id, ex.dim, ex.v + 0.0 AS value
          FROM ex
          JOIN raw r ON r.doc_id = ex.doc_id AND r.dim = ex.dim
          JOIN nrm n2 ON n2.doc_id = ex.doc_id
          WHERE abs((CASE WHEN n2.nn = 0 THEN r.r ELSE r.r / n2.nn END) - ex.v)
                  <= 1e-6""")),

    // The LSA/PCA model state behind q44/q49, exported at FULL double
    // precision as the replay input for their oracles (rows-only itself —
    // the fit is the one thing no oracle can recompute):
    //   part='loading': V(token_id, dim)   — the right singular vectors
    //   part='proj':    normalized projection(doc_id, dim) — what PCA reads
    //   part='pc':      W(lsa_dim, pc_idx) — the PCA component matrix
    //   part='pcproj':  Wᵀx(doc_id, pc_idx) at FULL precision — the same
    //                   doubles q49 emits, echoed by its tolerance oracle
    // V and W are driver-local by design (vocab is keepN-capped; k×2 is
    // tiny) — the same scale argument as broadcasting them.
    Gate("q65_lsa_model", (s, dir) => {
      import s.implicits._
      val (proj, v) = lsaModel(s, dir)
      val pc = pcaFitted(s, dir).pc
      // the q44/q49 oracles replay exactly 5 LSA dims and a 5×2 component
      // matrix — fail LOUDLY if a corpus ever converges fewer (q47 pattern)
      require(v.numCols == 5 && pc.numRows == 5 && pc.numCols == 2,
        s"q44/q49 oracles are pinned to k=5/pc=5x2, got V ${v.numRows}x${v.numCols}, pc ${pc.numRows}x${pc.numCols}")
      val loadings = (for { i <- 0 until v.numRows; j <- 0 until v.numCols }
        yield ("loading", i.toLong, j, v(i, j))).toDF("part", "i", "j", "value")
      val pcRows = (for { i <- 0 until pc.numRows; j <- 0 until pc.numCols }
        yield ("pc", i.toLong, j, pc(i, j))).toDF("part", "i", "j", "value")
      val projRows = proj.select(lit("proj").as("part"), col("doc_id").as("i"),
        posexplode(col("projection")).as(Seq("j", "value")))
      val pcProjRows = pcaProjection(s, dir)
        .select(lit("pcproj").as("part"), col("doc_id").as("i"),
          posexplode(col("pc")).as(Seq("j", "value")))
      loadings.union(pcRows).union(projRows).union(pcProjRows)
    },
      None),

    // Orthonormality of the exported V, computed DRIVER-SIDE from the model
    // matrix (k×k gram over the capped vocab — not the export), while the
    // oracle recomputes the same gram in SQL from q65's exported loadings:
    // a green row proves the export is faithful AND VᵀV ≈ I is visible in
    // the checked values themselves. rint vs half-away rounding never diverges here: true values
    // are 0/1 to SVD accuracy (~1e-14), nowhere near a .00000005 boundary.
    Gate("q66_lsa_ortho", (s, dir) => {
      import s.implicits._
      val (_, v) = lsaModel(s, dir)
      (for { a <- 0 until v.numCols; b <- a until v.numCols } yield {
        var g = 0.0; var i = 0
        while (i < v.numRows) { g += v(i, a) * v(i, b); i += 1 }
        (a, b, math.rint(g * 1e6) / 1e6 + 0.0)
      }).toDF("i", "j", "g")
    },
      // M2 — VᵀV recomputed in SQL from q65's exported loadings while the
      // engine computes it from the in-memory model matrix: a green row
      // proves export fidelity, and the checked values sitting at 1.0/0.0
      // document the orthonormality of the fitted basis.
      Some(s"""WITH ld AS (SELECT i, j, value
                     FROM $OracleLsaExport
                     WHERE part = 'loading')
         SELECT a.j AS i, b.j AS j, round(sum(a.value * b.value), 6) + 0.0 AS g
         FROM ld a JOIN ld b ON a.i = b.i AND a.j <= b.j
         GROUP BY 1, 2""")),

    // T2 scale path — LSH-bucketed ANN top-k with bitsFor sizing and
    // multi-probe, fully replayed by the DuckDB oracle (the hyperplane
    // family is deterministic arithmetic): corpus+probes bucket by
    // sign-pattern, probes also visit every Hamming-1 bucket, same-bucket
    // pairs score, dedup, window top-k: the 100 TB ANN path, driver-gated
    // end to end.
    Gate("q47_ann_lsh", annLsh,
      // The full lshTopK procedure replayed (bits=4 = Ann.bitsFor(n) for
      // every testdata sf, n ≤ 4096).
      Some(s"""WITH $OracleVectors,
         ${oracleLshCandidates("v.vec_id < 3")},
         ${oracleRanked("cand")}
         $OracleTop5""")),

    // E4 — the neural block scorer IN THE DRIVER GATE:
    // the native fused scored kernel (ExtractTurnExpr scored=true) over the
    // documents-derived corpus; oracle replays the per-chunk logistic
    // decision (sigmoid > 0.5) in SQL and reassembles passing chunks.
    Gate("q46_scored_extract", (s, dir) =>
      Extract.scoredPipeline(Transcripts.fromDocuments(s, dir))
        .select(col("conv_id"), col("turn_idx"), col("text")),
      // E4 scored extraction — per-turn text equality under the logistic
      // arbiter: reassemble exactly the chunks whose sigmoid clears 0.5.
      Some(s"""WITH $OracleChunks
          SELECT $OracleConvId AS conv_id, $OracleTurnIdx AS turn_idx,
            array_to_string(list_filter(chunks,
              c -> ${oracleChunkSigmoid("c")} > 0.5), ' ') AS text
          FROM ch""")),

    // E4 arithmetic — per-content-block sigmoid scores at 6dp (composed
    // scoreLabeled spelling, pinned ≡ native by ScoredPipelineSpec); the
    // oracle recomputes Scorer.scoreSql feature-for-feature with exp().
    Gate("q48_block_scores", (s, dir) => {
      val turns = Transcripts.fromDocuments(s, dir)
      Extract.scoreLabeled(Extract.lexed(turns))
        .select(col("conv_id"), col("turn_idx"),
          posexplode(expr("filter(blocks, b -> b.label = 'content')"))
            .as(Seq("block_idx", "b")))
        .select(col("conv_id"), col("turn_idx"), col("block_idx"),
          round(col("b.score"), 6).as("score"))
    },
      // E4 arithmetic — sigmoid scores of surviving content blocks at 6dp.
      Some(s"""WITH $OracleChunks,
          scd AS (SELECT doc_id,
            list_filter(list_transform(chunks,
              c -> ${oracleChunkSigmoid("c")}), p -> p > 0.5) AS passed
            FROM ch)
          SELECT $OracleConvId AS conv_id, $OracleTurnIdx AS turn_idx,
            CAST(j.j - 1 AS INT) AS block_idx,
            round(passed[CAST(j.j AS INT)], 6) AS score
          FROM scd JOIN generate_series(1, 4096) j(j) ON j.j <= len(passed)""")),

    // M7 — PCA 2-D projection over the LSA output (reference:
    // src/doc_classification.py:304-311 — viz tier). MLlib's PCA transform
    // is `y = Wᵀx` with NO centering, so with W and the full-precision LSA
    // projection exported by q65 the oracle replays every coordinate; the
    // covariance eigen-fit itself stays
    // unreplayed, pinned by LsaSpec. Fit shared with q65 via [[pcaFitted]]
    // — the replay MUST read the same model. + 0.0 folds IEEE -0.0.
    Gate("q49_pca", (s, dir) =>
      // full precision, no round — same echo contract as q44: the oracle
      // outputs the identical doubles from q65's 'pcproj' export
      pcaProjection(s, dir)
        .select(col("doc_id"),
          (col("pc").getItem(0) + lit(0.0d)).as("pc1"),
          (col("pc").getItem(1) + lit(0.0d)).as("pc2")),
      // M7 — every PCA coordinate replayed from q65's export: y = Wᵀx over
      // the full-precision normalized LSA projection (part='proj') and the
      // component matrix (part='pc'). No centering — MLlib's transform
      // multiplies the raw vector (probed; LsaSpec pins it too). Same
      // echo-with-tolerance shape as q44: the output values are the engine's
      // own exported full-precision coordinates (part='pcproj'), kept only
      // where the recomputed Wᵀx agrees within 1e-6 — a deviating coordinate
      // NULLs its doc row and fails the hash compare.
      Some(s"""WITH pj AS (SELECT i AS doc_id, j AS dim, value AS v
                     FROM $OracleLsaExport
                     WHERE part = 'proj'),
         pc AS (SELECT i AS dim, j AS pcx, value AS w
                FROM $OracleLsaExport
                WHERE part = 'pc'),
         prod AS (SELECT pj.doc_id, pc.pcx, sum(pj.v * pc.w) AS p
                  FROM pj JOIN pc USING (dim) GROUP BY 1, 2),
         ex AS (SELECT i AS doc_id, j AS pcx, value AS v
                FROM $OracleLsaExport
                WHERE part = 'pcproj'),
         chk AS (SELECT ex.doc_id, ex.pcx, ex.v
                 FROM ex JOIN prod p ON p.doc_id = ex.doc_id AND p.pcx = ex.pcx
                 WHERE abs(p.p - ex.v) <= 1e-6)
         SELECT doc_id,
           max(CASE WHEN pcx = 0 THEN v END) + 0.0 AS pc1,
           max(CASE WHEN pcx = 1 THEN v END) + 0.0 AS pc2
         FROM chk GROUP BY 1""")),

    // M8 — per-point silhouette of the seeded KMeans clustering (reference:
    // modules/Silhouette.py:9-36, sklearn euclidean metric). The cluster
    // ASSIGNMENT is the iterative MLlib fit (not replayable), so the oracle
    // is a SELF-CONSISTENCY check: it reads the
    // exported (vec_id, cluster) back from this query's own parquet output
    // and recomputes every silhouette value from assignments + embeddings in
    // SQL — the metric arithmetic is cross-engine-verified even though the
    // clustering itself cannot be. Sample = vec_id < 500 (sklearn
    // sample_size analog; the full set at the gated sfs).
    Gate("q50_silhouette", (s, dir) => {
      val (model, emb) = kmeansFitted(s, dir)
      val assigned = model.transform(emb).filter(col("vec_id") < 500)
        .select(col("vec_id"), col("prediction").as("cluster"), col("embedding"))
      graft.ml.Silhouette.samples(assigned, "vec_id", "cluster", "embedding")
    },
      // M8 — silhouette arithmetic replayed from the exported assignments:
      // pairwise euclidean distances (6dp) via the same dot-product algebra
      // the native cosine kernel uses, mean-to-own / min-mean-to-other, then
      // (b−a)/max(a,b) at 4dp. Singleton clusters → 0 (sklearn convention).
      Some("""WITH asg AS (SELECT vec_id, cluster
                      FROM read_parquet('__VERIFY_OUT__/q50_silhouette/*.parquet')),
         v AS (SELECT a.vec_id, a.cluster, e.embedding::DOUBLE[] AS vec,
                 list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) AS n2
               FROM asg a JOIN embeddings e USING (vec_id)),
         pairs AS (
           SELECT a.vec_id AS ka, a.cluster AS ca, b.cluster AS cb,
             round(sqrt(greatest(a.n2 + b.n2
               - CASE WHEN a.n2 = 0 OR b.n2 = 0 THEN 0
                 ELSE 2 * (list_dot_product(a.vec, b.vec)
                            / (sqrt(a.n2) * sqrt(b.n2)))
                     * sqrt(a.n2) * sqrt(b.n2) END, 0)), 6) AS dist
           FROM v a JOIN v b ON a.vec_id <> b.vec_id),
         own AS (SELECT ka, avg(dist) AS a_mean FROM pairs
                 WHERE ca = cb GROUP BY 1),
         oth AS (SELECT ka, min(m) AS b_min FROM (
             SELECT ka, cb, avg(dist) AS m FROM pairs
             WHERE ca <> cb GROUP BY 1, 2) GROUP BY 1)
         SELECT v.vec_id, v.cluster,
           CASE WHEN own.a_mean IS NULL THEN 0.0
                WHEN greatest(own.a_mean, oth.b_min) = 0 THEN 0.0
                ELSE round((oth.b_min - own.a_mean)
                       / greatest(own.a_mean, oth.b_min), 4)
           END + 0.0 AS sil  -- fold -0.0 to +0.0 (engine does the same)
         FROM v LEFT JOIN own ON v.vec_id = own.ka
                LEFT JOIN oth ON v.vec_id = oth.ka""")),

    // Embedding near-dup SCALE PATH — LSH sign-bucketed pairwise cosine,
    // the 100 TB twin of Dedup.embeddingDup's documented all-pairs variant
    // (which is O(n²)). Hyperplanes are
    // deterministic arithmetic, so the oracle replays bucket assignment,
    // the bucket equi-join and the threshold end to end.
    Gate("q51_embed_dup", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      // bits PINNED to 4: the oracle's generate_series(0,3) replays exactly
      // 4 hyperplanes, and deriving from Ann.bitsFor(count) here silently
      // diverges from the SQL the moment a testdata sf exceeds 4096
      // embeddings. Production sizing remains Ann.bitsFor —
      // q47 keeps it under the gate with a loud equality guard.
      Dedup.embeddingDupLsh(emb, "vec_id", "embedding",
        threshold = 0.3, dim = 64, bits = 4)
    },
      // Embedding near-dup scale path — deterministic sign buckets (bits=4 =
      // Ann.bitsFor(n) for every testdata sf, n ≤ 4096), bucket equi-join,
      // cosine threshold.
      Some(s"""WITH ${oracleEmbedDup(0.3)}
         SELECT * FROM pairs""")),

    // M4/M5/M6 — LDA topic modeling over the engine BOW (reference:
    // gensim LdaMulticore, src/doc_classification.py:39-72): the full
    // doc-topic matrix with the dominant flag. The variational fit isn't
    // engine-portable, but the dominant flag IS derivable from the exported
    // weights — the oracle recomputes it per doc (self-consistency); topic
    // separation pinned by LdaSpec. The exported weights are also the
    // replay input for q56's correlation oracle.
    // Shared persisted result: the doc-topic matrix is the LDA transform —
    // per-doc variational inference, the expensive half after the fit — and
    // q55 (theta for the plugin bracket) and q56 (the corr matrix over the
    // SAME 6dp weights) read it too. One frame serves all three, exactly
    // like the fit itself is shared via ldaFitted.
    Gate("q52_lda", ldaDocTopics,
      // M4/M5/M6 — the dominant flag replayed from the exported doc-topic
      // weights: per-doc max, first topic attaining it (the engine decides
      // dominance on the same 6dp-rounded weights it exports, ties to the
      // lowest topic id). The variational fit is taken as given; the argmax
      // arithmetic is cross-engine-verified.
      Some(s"""WITH $OracleDocTopics,
         mx AS (SELECT doc_id, max(weight) AS m FROM dt GROUP BY 1),
         fm AS (SELECT d.doc_id, min(d.topic) AS t0
                FROM dt d JOIN mx USING (doc_id)
                WHERE d.weight = mx.m GROUP BY 1)
         SELECT d.doc_id, d.topic, d.weight, (d.topic = f.t0) AS dominant
         FROM dt d JOIN fm f USING (doc_id)""")),

    // M13 — hyperparameter grid search in ONE relational pass (vs the
    // reference's train-per-config loop, src/supervised.py:66-76): the
    // decision-threshold grid evaluated against the production 0.5
    // operating point, so every confusion cell populates across the grid.
    // Oracle replays the chunk sigmoids and the whole grid in SQL.
    Gate("q53_grid_search", (s, dir) => {
      val turns = Transcripts.fromDocuments(s, dir)
      val scored = Extract.scoreLabeled(Extract.lexed(turns))
        .select(explode(expr(
          s"filter(blocks, b -> NOT b.path RLIKE '${Extract.ChromePathRe}')"))
          .as("b"))
        .select(round(col("b.score"), 6).as("score"))
        .withColumn("label",
          when(col("score") > 0.5, "content").otherwise("chrome"))
      Scorer.thresholdGrid(scored, "score", "label", "content",
        Seq(0.3, 0.4, 0.5, 0.6, 0.7))
    },
      // M13 grid search — chunk sigmoids × threshold grid, confusion cells
      // against the 0.5 operating point, metrics at 6dp.
      Some(s"""WITH $OracleChunks,
          sc AS (SELECT unnest(list_transform(chunks,
                   c -> round(${oracleChunkSigmoid("c")}, 6))) AS score
                 FROM ch),
          g AS (SELECT unnest(CAST([0.3, 0.4, 0.5, 0.6, 0.7] AS DOUBLE[]))
                  AS threshold),
          cells AS (
            SELECT g.threshold,
              CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CASE WHEN sc.score > g.threshold AND sc.score > 0.5
                THEN 1 ELSE 0 END) AS BIGINT) AS tp,
              CAST(sum(CASE WHEN sc.score > g.threshold AND sc.score <= 0.5
                THEN 1 ELSE 0 END) AS BIGINT) AS fp,
              CAST(sum(CASE WHEN sc.score <= g.threshold AND sc.score <= 0.5
                THEN 1 ELSE 0 END) AS BIGINT) AS tn,
              CAST(sum(CASE WHEN sc.score <= g.threshold AND sc.score > 0.5
                THEN 1 ELSE 0 END) AS BIGINT) AS fn
            FROM sc CROSS JOIN g GROUP BY 1)
          SELECT threshold, n, tp, fp, tn, fn,
            round(CAST(tp + tn AS DOUBLE) / n, 6) AS accuracy,
            round(CAST(tp AS DOUBLE) / greatest(tp + fp, 1), 6) AS precision,
            round(CAST(tp AS DOUBLE) / greatest(tp + fn, 1), 6) AS recall
          FROM cells""")),

    // M14 — label spreading over the kNN similarity graph (reference:
    // sklearn LabelSpreading, src/label_prop.py:57-122): 10% seeded nodes,
    // unweighted 3-NN majority votes, 2 clamped iterations — every step
    // deterministic, so the oracle replays the graph build and both vote
    // rounds. The graph tier is capped to the 500-vector prefix: the brute
    // all-pairs build is the REFERENCE's semantics (sklearn materializes
    // the full kernel matrix) and exists here as the checked fixture-sized
    // variant — at corpus scale the edge list comes from Ann.lshTopK and
    // the spread() iterations are unchanged.
    Gate("q54_label_prop", (s, dir) => {
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < 500)
      val nodes = emb.select(col("vec_id"),
        when(col("vec_id") % 10 === 0, col("label")).as("label"))
      val edges = Ann.bruteTopK(emb, emb, "vec_id", "embedding", k = 3)
        .select(col("p_key").as("src"), col("c_key").as("dst"),
          lit(1.0).as("weight"))
      graft.ml.LabelProp.spread(nodes, "vec_id", "label", edges, iters = 2)
    },
      // M14 label spreading — 3-NN graph (brute cosine, 6dp, dst-asc ties),
      // two clamped majority-vote rounds unrolled.
      Some(oracleLabelProp(s"""cand AS (
           SELECT p.vec_id AS p_key, c.vec_id AS c_key, ${oracleCos("c.e", "p.e")} AS cos
           FROM v c, v p WHERE c.vec_id <> p.vec_id)""", iters = 2))),

    // M14 at SCALE — the same label spreading with the edge list from the
    // LSH-bucketed kNN ([[Ann.lshTopK]], bits from bitsFor, multi-probe)
    // instead of the brute all-pairs build: the exact composition a 10^12-row
    // corpus runs. The oracle replays bucketed candidate generation end to end
    // (q47's pattern: buckets → Hamming-1 multi-probe → same-bucket cosine →
    // top-3) and then both clamped vote rounds (q54's pattern).
    Gate("q57_label_prop_lsh", (s, dir) => {
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < 500)
      val nodes = emb.select(col("vec_id"),
        when(col("vec_id") % 10 === 0, col("label")).as("label"))
      val bits = Ann.bitsFor(500) // clamp floor — 4; oracle replays 4 planes
      require(bits == 4, s"q57 oracle is pinned to bits=4, bitsFor gave $bits")
      val edges = Ann.lshTopK(emb, emb, "vec_id", "embedding", k = 3,
        dim = 64, bits = bits, multiProbe = true)
        .select(col("p_key").as("src"), col("c_key").as("dst"),
          lit(1.0).as("weight"))
      graft.ml.LabelProp.spread(nodes, "vec_id", "label", edges, iters = 2)
    },
      // M14 scale composition — kNN edges from the LSH bucket procedure
      // (q47's replay: 4 deterministic hyperplanes, Hamming-1 multi-probe,
      // same-bucket cosine, top-3 per src) feeding the same two clamped vote
      // rounds as q54.
      Some(oracleLabelProp(oracleLshCandidates("TRUE"), iters = 2))),

    // MinHash+LSH with the hot-bucket cap BINDING (q45 gates maxBucket=0).
    // Every doc_id % 50 == 0 row
    // is rewritten to one constant 4-token text, so all of them share one
    // signature and land in ONE bucket per band (population 10 at the gated
    // sfs, 100 at sf0.1) — maxBucket=5 drops that degenerate bucket from
    // candidate generation in both engines, exactly the q28 maxShingleDf
    // pattern: the cap is a semantic parameter the oracle replays, not a
    // sampling trick. Docs 30/130 form a second, UNDER-cap duplicate group
    // so the green row shows the cap discriminating (their pair survives
    // with est_jaccard 1.0) rather than emptying the output.
    Gate("q58_lsh_bucket_cap", (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"),
          split(when(col("doc_id").isin(30, 130), lit("eee fff ggg hhh"))
            .when(col("doc_id") % 50 === 0, lit("aaa bbb ccc ddd"))
            .otherwise(col("text")), " ").as("tokens"))
      graft.corpus.Curation.nearDupPairs(docs, maxBucket = 5)
    },
      // q45's procedure with the degenerate-text rewrite and the hot-bucket
      // cap replayed: buckets with population > 5 are dropped before pairing.
      Some(oracleNearDupPairs("CASE WHEN doc_id IN (30, 130) THEN 'eee fff ggg hhh' " +
        "WHEN doc_id % 50 = 0 THEN 'aaa bbb ccc ddd' ELSE text END", maxBucket = 5))),

    // M18 — held-out log-perplexity of the topic model (reference:
    // log_perplexity, src/doc_classification.py:71). Checked, not
    // rows-only: the variational ELBO itself is the one number
    // no SQL engine can recompute (digamma terms), but it IS bracketable —
    // the reported per-token bound must sit ABOVE the plugin cross-entropy
    // −Σ cnt·ln(Σₖ θ̂_dk·φ_kw)/Σ cnt (a fitted parameter point the bound
    // cannot beat: the ELBO pays KL penalties the plugin doesn't) and BELOW
    // ln(V) + margin (the uniform-model ceiling; the margin absorbs the KL
    // excess — measured lp − ln(V) ≈ +0.04 and lp − plugin ≈ +0.07..0.10 at
    // every gated sf, see Q55UpperMargin). The query exports φ (part='phi',
    // full precision, λ columns normalized to distributions) and
    // the reported value (part='stat', i = k); the oracle recomputes the
    // bracket from documents + q52's exported θ + the echoed φ and emits
    // its own 'sane' verdict row — a green hash means BOTH engines computed
    // the bracket and BOTH found the reported number inside it. The engine
    // additionally `require`s the bracket with 1e-6 separation so a
    // boundary-grazing value fails loudly rather than flaking.
    Gate("q55_lda_perplexity", (s, dir) => {
      val spark = s
      import spark.implicits._
      val (model, features) = ldaFitted(s, dir)
      val (vocab, _, vocabSize) = vocabInfo(s, dir)
      val k = model.getK
      // topicsMatrix returns the UNNORMALIZED variational λ for the online
      // optimizer (expected token counts per topic-word, column sums ≫ 1) —
      // normalize each topic column into the φ distribution (probed: the
      // raw columns summed to ~e^6, flipping the plugin CE negative)
      val tm = model.topicsMatrix // vocabSize × k
      val colSum = Array.tabulate(k)(tpc =>
        (0 until vocabSize).map(w => tm(w, tpc)).sum)
      val phiRows = (for { tpc <- 0 until k; w <- 0 until vocabSize }
        yield ("phi", tpc.toLong, w, tm(w, tpc) / colSum(tpc)))
        .toDF("part", "i", "j", "value")
      // the two verification scalars — the MLlib perplexity pass and the
      // plugin-CE mix over q52's shared doc-topic frame (same model, same
      // transform) — verify the one shared fit, so a session computes them
      // once
      val (lp, plugin) = artifact(s, dir, "q55Stats") {
        val lp0 =
          math.rint(graft.ml.Lda.logPerplexity(model, features) * 1e4) / 1e4
        val theta = ldaDocTopics(s, dir)
          .select(col("doc_id"), col("topic"), col("weight"))
        val bow = Vocab.bowFromCounts(docTermCounts(s, dir), vocab, "doc_id")
        val phiDf = phiRows.select(col("i").cast("int").as("topic"),
          col("j").cast("long").as("token_id"), col("value").as("phi"))
        val mix = bow.join(theta, Seq("doc_id"))
          .join(broadcast(phiDf), Seq("topic", "token_id"))
          .groupBy("doc_id", "token_id")
          .agg(max(col("cnt")).as("cnt"),
            sum(col("weight") * col("phi")).as("m"))
        val org.apache.spark.sql.Row(p: Double) = mix
          .agg((-sum(col("cnt") * log(col("m"))) / sum(col("cnt"))).as("p"))
          .head()
        (lp0, p)
      }(_ => ())
      val upper = math.log(vocabSize.toDouble) + Q55UpperMargin
      require(lp - plugin > 1e-6 && upper - lp > 1e-6,
        s"q55 perplexity bracket violated (or boundary-grazing): " +
          s"plugin=$plugin lp=$lp upper=$upper — a real regression in the " +
          s"LDA fit or the bound arithmetic, not a flake")
      Seq(("stat", k.toLong, 0, lp), ("sane", 0L, 0, 1.0))
        .toDF("part", "i", "j", "value")
        .union(phiRows)
    },
      // M18 — the perplexity BRACKET recomputed in SQL:
      // take the fit as given (φ echoed from this query's own export, θ from
      // q52's), rebuild the engine's BOW (the shared dictionary chain), compute the
      // plugin cross-entropy −Σ cnt·ln(Σₖ θ̂·φ)/Σ cnt and the ln(V)+margin
      // ceiling, and emit an independent 'sane' verdict — the hash matches
      // only if DuckDB's own bracket also contains the reported value. The
      // verdict is a boolean ~0.1+ nats from either boundary, so cross-engine
      // float-sum noise (~1e-12) cannot flip it (the engine `require`s 1e-6
      // separation and fails loudly instead).
      Some(s"""WITH ex AS (SELECT part, i, j, value
                      FROM read_parquet('__VERIFY_OUT__/q55_lda_perplexity/*.parquet')),
          $OracleDictionary,
          $OracleDocTopics,
          phi AS (SELECT CAST(i AS INT) AS topic, CAST(j AS BIGINT) AS token_id,
                    value AS phi
                  FROM ex WHERE part = 'phi'),
          mix AS (
            SELECT b.doc_id, b.token_id, any_value(b.cnt) AS cnt,
              sum(t.weight * p.phi) AS m
            FROM bow b
            JOIN dt t ON t.doc_id = b.doc_id
            JOIN phi p ON p.topic = t.topic AND p.token_id = b.token_id
            GROUP BY 1, 2),
          pl AS (SELECT -sum(cnt * ln(m)) / sum(cnt) AS plugin FROM mix),
          vs AS (SELECT count(*) AS v FROM vocab),
          st AS (SELECT value AS lp FROM ex WHERE part = 'stat')
          SELECT part, i, j, value FROM ex WHERE part <> 'sane'
          UNION ALL
          SELECT 'sane', CAST(0 AS BIGINT), 0,
            CASE WHEN (SELECT lp FROM st) > (SELECT plugin FROM pl)
                  AND (SELECT lp FROM st)
                        < ln((SELECT v FROM vs)) + $Q55UpperMargin
            THEN 1.0 ELSE 0.0 END
          FROM (SELECT 1)""")),

    // M17 — the doc-topic correlation matrix behind the reference's heatmap
    // (src/doc_classification.py:192-210). Correlation over the SAME
    // 6dp-rounded weights q52 exports, so the oracle can recompute every
    // corr cell from q52's parquet output (self-consistency): the LDA fit isn't replayable, the Pearson arithmetic is.
    Gate("q56_topic_corr", (s, dir) => {
      // q52's shared frame IS the 6dp-rounded doc-topic matrix (its dist
      // column rounds before the explode), so transforming + rounding here
      // would be a third LDA transform producing byte-identical weights
      val dt = ldaDocTopics(s, dir)
        .select(col("doc_id"), col("topic"), col("weight"))
      graft.ml.Lda.topicCorr(dt, "doc_id")
    },
      // M17 — every Pearson corr cell recomputed from q52's exported
      // doc-topic weights (the same 6dp values the engine correlates).
      Some(s"""WITH $OracleDocTopics
         SELECT a.topic AS t1, b.topic AS t2,
           round(corr(a.weight, b.weight), 6) + 0.0 AS corr  -- fold -0.0
         FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.topic < b.topic
         GROUP BY 1, 2""")),

    // P1 UNDER THE GATE: the fixture corpus is
    // ASCII-clean, so in every other green row the fold runs as identity —
    // here every FoldFrom character is prepended (Normalize.
    // FoldCoverageSentence, shaped to survive P2–P7) and the oracle mirrors
    // the fold with DuckDB translate over the same map, so a green row
    // proves the fold MAP, not just the pipeline around it.
    Gate("q67_fold_accents", (s, dir) => t(s, dir, "documents")
      .select(col("doc_id"), explode(Normalize.pipeline(
        concat(lit(Normalize.FoldCoverageSentence + " "), col("text"))))
        .as("token")),
      // P1 replay: the SAME fold map as the engine, applied by DuckDB
      // translate BEFORE the shared P2–P7 chain (both engines fold first).
      Some(s"""SELECT doc_id, unnest(${oracleTokensOf(
            s"translate('${Normalize.FoldCoverageSentence} ' || text, " +
              s"'${Normalize.FoldFrom}', '${Normalize.FoldTo}')")}) AS token
          FROM documents""")),

    // Non-ASCII through the FULL extraction kernel (the q30 contract over
    // accent-prefixed documents): multi-byte text crosses every payload
    // shape — markup content, layout line chunking, JSON string — and must
    // come back byte-exact (per-turn text equality), so the lexer's
    // non-ASCII handling runs under the gate, not only in specs.
    Gate("q68_extract_accented", (s, dir) =>
      Extract.pipeline(Transcripts.fromDocumentsPrefixed(s, dir,
        Normalize.FoldCoverageSentence))
        .select(col("conv_id"), col("turn_idx"), col("text")),
      // per-turn text equality with the accent prefix intact, byte-exact
      Some(oracleTurnText(s"'${Normalize.FoldCoverageSentence} ' || text"))),

    // ---------------------------------------------------------- extraction
    // E1–E6 — THE FLAGSHIP: full extraction kernel over the documents-derived
    // transcript corpus; oracle = the original document text (per-turn text
    // equality, north_rule).
    Gate("q30_extract", (s, dir) =>
      Extract.pipeline(Transcripts.fromDocuments(s, dir))
        .select(col("conv_id"), col("turn_idx"), col("text")),
      Some(oracleTurnText("text"))),

    // E1 hardening UNDER THE GATE: the full kernel over
    // the ADVERSARIAL payload shells — comment/CDATA/doctype decoys, HTML5
    // complete comments, unquoted attributes, quoted '>', entity refs incl.
    // a lone-surrogate ref, reverse-order layout lines, tool-JSON value
    // decoys (Transcripts.fromDocumentsAdversarial). Every shape must still
    // extract to exactly the document text, so the oracle is q30's.
    Gate("q59_extract_adversarial", (s, dir) =>
      Extract.pipeline(Transcripts.fromDocumentsAdversarial(s, dir))
        .select(col("conv_id"), col("turn_idx"), col("text")),
      // per-turn text equality holds over the adversarial shells too
      Some(oracleTurnText("text"))),

    // S8 + S11 — CSV sink AND source in one gate: the q41 data product is
    // written through the CSV sink (header, explicit quoting defaults) and
    // read back through the CSV source with an EXPLICIT schema (inference
    // would lose long-vs-int and the 2dp money doubles). The round-trip is
    // lossless — the oracle is q41's own SQL — because shortest-repr double
    // printing parses back to the identical double. The reference's analog
    // reads `wells_aggregated.csv` into its map dashboards
    // (src/bokeh_wells_map.ipynb cell 1).
    Gate("q62_csv_roundtrip", (s, dir) => {
      // pid in the path: two processes gating the same sf concurrently must
      // not overwrite each other's CSV between the lazy write and read
      // (floorMod, not abs — abs(Int.MinValue) is negative). q62Stage also
      // sweeps dirs left by DEAD gate processes and deletes our own at JVM
      // exit, so repeated Verify sweeps leave no /tmp litter.
      val out = q62Stage(math.floorMod(dir.hashCode, 1 << 30))
      dataProduct(s, dir)
        .write.mode("overwrite").option("header", "true").csv(out)
      s.read.schema(
          "n_name STRING, n_f BIGINT, n_o BIGINT, n_p BIGINT, total DOUBLE")
        .option("header", "true").csv(out)
    },
      // S8+S11 — the CSV round-trip must reproduce the data product exactly
      Some(OracleDataProduct)),

    // M16 — doc2vec, Spark-first (ml.Doc2Vec): the learned word vectors,
    // exported at full double precision as q61's replay input. Rows-only
    // (the skip-gram SGD fit is iterative); geometry pinned by Doc2VecSpec.
    Gate("q60_word_vectors", (s, dir) => {
      val (model, _) = doc2vecFitted(s, dir)
      graft.ml.Doc2Vec.wordVectors(model)
    },
      None),

    // M16 — document vectors by token-occurrence averaging
    // (Word2VecModel.transform semantics: sum of in-vocab token vectors /
    // TOTAL token count). The fit is taken as given via q60's export; the
    // tokenize + join + average arithmetic is replayed by the oracle.
    Gate("q61_doc2vec", (s, dir) => {
      val (model, docs) = doc2vecFitted(s, dir)
      graft.ml.Doc2Vec.docVectors(model, docs, "doc_id")
    },
      // M16 — document vectors replayed from q60's exported word vectors:
      // whitespace tokenize (occurrences kept), join to the vocab, divide by
      // the TOTAL token count (Word2VecModel.transform's denominator, probed
      // empirically). Built LEFT-of-documents so a doc whose every token is
      // OOV still yields its zero vector — an inner join would DROP such
      // docs while the engine emits zeros (no such doc exists in today's fixtures, but the gate must not depend on
      // that). The sum runs over the SAME 1e-9 integer grid the engine sums
      // on (floor(w·1e9 + 0.5) of identical exported doubles → identical
      // longs; integer sums are order-independent), so the summation-order
      // flake class is structurally closed — the only float
      // ops are one division and one round of bit-identical inputs.
      // + 0.0 folds -0.0 (engine does the same).
      Some("""WITH wv AS (SELECT token, dim,
                       CAST(floor(w * 1000000000.0 + 0.5) AS BIGINT) AS wq
                     FROM read_parquet('__VERIFY_OUT__/q60_word_vectors/*.parquet')),
         tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                 FROM documents),
         sums AS (SELECT t.doc_id, v.dim, CAST(sum(v.wq) AS BIGINT) AS s9
                  FROM tok t JOIN wv v USING (token) GROUP BY 1, 2),
         docs AS (SELECT doc_id, len(string_split(text, ' ')) AS n
                  FROM documents),
         dims AS (SELECT DISTINCT dim FROM wv)
         SELECT d.doc_id, m.dim,
           round(coalesce(s.s9, 0)::DOUBLE / (d.n * 1000000000.0), 6) + 0.0 AS v
         FROM docs d CROSS JOIN dims m
         LEFT JOIN sums s ON s.doc_id = d.doc_id AND s.dim = m.dim""")),

    // E5 — span offsets for the single-content-block shapes (0, 1, 3);
    // layout shape 2 spans are pinned by ScalaTest instead.
    Gate("q31_spans", (s, dir) => {
      val turns = Transcripts.fromDocuments(s, dir)
      Extract.pipeline(turns)
        .withColumn("span", explode(col("spans")))
        .select(col("conv_id"), col("turn_idx"),
          col("span.start").as("span_start"), col("span.end").as("span_end"),
          col("span.label").as("label"))
        .filter(col("label") === "content")
        .join(t(s, dir, "documents")
            .filter(col("doc_id") % 4 =!= 2)
            .select(
              concat(lit("c"), lpad((col("doc_id") % Transcripts.ConvFold)
                .cast("string"), 4, "0")).as("conv_id"),
              (col("doc_id") / Transcripts.ConvFold).cast("int").as("turn_idx")),
          Seq("conv_id", "turn_idx"), "left_semi")
    },
      Some(s"""SELECT $OracleConvId AS conv_id, $OracleTurnIdx AS turn_idx,
            CASE doc_id % 4
              WHEN 0 THEN 98
              WHEN 1 THEN 117
              WHEN 3 THEN 41 END AS span_start,
            CASE doc_id % 4
              WHEN 0 THEN 98 + length(text)
              WHEN 1 THEN 117 + length(text)
              WHEN 3 THEN 41 + length(text) END AS span_end,
            'content' AS label
          FROM documents WHERE doc_id % 4 <> 2"""))
  )
}
