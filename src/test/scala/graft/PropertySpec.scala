package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.exec.{DdlTranslate, ExecutionContext}

/** Property-based invariants (scalacheck generators, deterministic seeds)
  * for the parsing/serving layers — the reference ships none (SURVEY §5);
  * these harden the surfaces most exposed to arbitrary user input.
  */
class PropertySpec extends SparkSpec {

  private lazy val ctx = new ExecutionContext(spark)

  /** Deterministic sampling: seed fixed per iteration, so failures repro. */
  private def forSamples[A](gen: Gen[A], n: Int = 50)(f: A => Unit): Unit =
    (1 to n).foreach { i =>
      f(gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    }

  // statements: no semicolons/quotes/dashes so joining with ';' is lossless
  private val plainStmt: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaNumChar).map("S" + _.mkString)

  test("splitStatements inverts ';'-joining for plain statements") {
    forSamples(Gen.nonEmptyListOf(plainStmt)) { stmts =>
      assert(ctx.splitStatements(stmts.mkString(";")) === stmts)
    }
  }

  test("splitStatements never splits inside single-quoted literals") {
    val payload = Gen.listOf(
      Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(';', '-', ' '))).map(_.mkString)
    forSamples(payload) { p =>
      val stmt = s"SELECT '$p' AS c"
      assert(ctx.splitStatements(stmt + ";" + stmt) === Seq(stmt, stmt))
    }
  }

  test("splitStatements strips -- comments outside literals") {
    forSamples(Gen.zip(plainStmt, plainStmt)) { case (a, b) =>
      val script = s"$a -- trailing $b\n;$b"
      assert(ctx.splitStatements(script) === Seq(a, b))
    }
  }

  test("DdlTranslate is identity on non-external statements") {
    forSamples(plainStmt) { s =>
      assert(DdlTranslate(s"SELECT $s") === s"SELECT $s")
    }
  }

  test("pagination reassembles exactly the ordered dataframe") {
    import spark.implicits._
    forSamples(Gen.zip(Gen.chooseNum(0, 57), Gen.chooseNum(1, 13)), n = 8) {
      case (n, pageSize) =>
        val df = (0 until n).toDF("v").orderBy("v")
        val pg = new cli.Pagination(df, pageSize)
        val pages = Iterator.from(0).map(pg.page).takeWhile(_.nonEmpty).toSeq
        val reassembled = pages.flatten.map(_.getInt(0))
        assert(reassembled === (0 until n))
        assert(pages.forall(_.size <= pageSize))
    }
  }

  test("extractSql round-trips arbitrary SQL strings through JSON encoding") {
    def jsonEncode(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    // adversarial alphabet: backslashes, quotes, escape-lookalikes, controls
    val sqlGen: Gen[String] = Gen.listOf(Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf('\\', '"', '\'', 'n', 't', '\n', '\t', ';',
        ' ', '{', '}', ':'))).map(_.mkString)
    forSamples(sqlGen, n = 200) { sql =>
      val body = s"""{"sql": ${jsonEncode(sql)}, "flightsql": false}"""
      assert(graft.server.HttpServer.extractSql(body) === sql)
    }
    // the case sequential replace corrupts: literal backslash + n
    assert(graft.server.HttpServer.extractSql("""{"sql": "a\\nb"}""") === """a\nb""")
    // non-JSON bodies pass through as raw SQL
    assert(graft.server.HttpServer.extractSql("SELECT 1 AS x") === "SELECT 1 AS x")
  }

  test("mp4 box walk never throws on arbitrary bytes (incl. adversarial prefixes)") {
    import graft.operators.Multimodal
    val junk: Gen[Array[Byte]] = for {
      n <- Gen.choose(0, 512)
      bs <- Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue))
    } yield bs.toArray
    forSamples(junk, 200) { b =>
      val h = Multimodal.parseMp4(0L, b) // must degrade, never throw
      assert(h.doc_id === 0L)
    }
    // adversarial: a VALID container prefix spliced with junk tails
    val valid = Multimodal.makeMp4("isom", 600, 1200, 320, 240)
    forSamples(Gen.choose(1, valid.length - 1), 60) { cut =>
      Multimodal.parseMp4(1L, valid.take(cut))
      Multimodal.parseMp4(2L, valid.take(cut) ++ Array[Byte](0x7f, 0, 0, 1))
    }
  }

  test("morton interleave is injective over the rank grid (order-embedding per dim)") {
    import org.apache.spark.sql.functions.col
    val s2 = spark
    import s2.implicits._
    // full 5-bit × 5-bit grid: 1024 points, all z codes must be distinct,
    // and fixing one dim makes z strictly monotone in the other
    val grid = for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y)
    val z = grid.toDF("x", "y")
      .select(col("x"), col("y"),
        graft.operators.Compaction.mortonInterleave(
          Seq(col("x"), col("y")), bits = 5).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(z.values.toSet.size === grid.size, "z codes must be distinct")
    (0L until 32L).foreach { x =>
      val along = (0L until 32L).map(y => z((x, y)))
      assert(along === along.sorted, s"z not monotone in y at x=$x")
    }
  }

  test("native cosine equals composable cosine on random vectors") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    graft.functions.NativeFunctions.register(spark)
    val vec = Gen.listOfN(8, Gen.chooseNum(-10.0, 10.0))
    forSamples(Gen.listOfN(12, Gen.zip(vec, vec)), n = 4) { pairs =>
      val df = pairs.map { case (a, b) => (a.toArray, b.toArray) }.toDF("x", "y")
      val rows = df.select(
        call_function("cosine_sim", col("x"), col("y")).as("native"),
        graft.operators.Similarity.cosine(col("x"), col("y")).as("composed"))
        .collect()
      rows.foreach { r =>
        val (nv, cv) = (r.getDouble(0), r.getDouble(1))
        assert(nv == cv || (nv.isNaN && cv.isNaN))
      }
    }
  }

  test("native hyperplane bits equal the composable signature on random vectors") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    graft.functions.NativeFunctions.register(spark)
    val planes = graft.operators.Similarity.simhashPlanes(dim = 8, planes = 16)
    val vec = Gen.listOfN(8, Gen.chooseNum(-10.0, 10.0))
    forSamples(Gen.listOfN(20, vec), n = 4) { vecs =>
      val df = vecs.map(v => Tuple1(v.toArray)).toDF("x")
      val rows = df.select(
        call_function("hyperplane_bits", col("x"),
          typedlit(planes.flatten.toSeq), lit(planes.length)).as("native"),
        graft.operators.Similarity.hyperplaneSignature(col("x"), planes)
          .as("composed"))
        .collect()
      rows.foreach { r =>
        assert(r.getString(0) === r.getString(1))
        assert(r.getString(0).length === 16)
        assert(r.getString(0).forall(c => c == '0' || c == '1'))
      }
    }
  }

  test("native shingles/shingle_hashes equal the composable pipeline") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    graft.functions.NativeFunctions.register(spark)
    // random whitespace-noisy texts plus the structural edge cases: empty,
    // whitespace-only, fewer tokens than n, repeated shingles, tabs/newlines
    val word = Gen.oneOf("a", "bb", "ccc", "dog", "cat", "x1", "Yz")
    val sep = Gen.oneOf(" ", "  ", "\t", "\n", " \t ")
    val textGen = for {
      k <- Gen.chooseNum(0, 12)
      ws <- Gen.listOfN(k, word)
      ss <- Gen.listOfN(k, sep)
    } yield ws.zip(ss).map { case (w, s) => w + s }.mkString
    forSamples(Gen.listOfN(30, textGen), n = 4) { texts =>
      val all = texts ++ Seq("", "   ", "\t\n", "one two", "a b c a b c a b c")
      val df = all.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val native = graft.operators.Dedup.shingles(df)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
      val composed = graft.operators.Dedup.shinglesComposable(df)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
      assert(native === composed)
      // hash form = xxhash64 over the composable distinct shingles
      val nh = df.select(col("doc_id"),
          explode(call_function("shingle_hashes", col("text"), lit(3))).as("sk"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      val ch = graft.operators.Dedup.shinglesComposable(df)
        .select(col("doc_id"), xxhash64(col("shingle")).as("sk"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(nh === ch)
    }
  }

  test("native minhash_signature equals the explode+min-aggregate matrix") {
    import spark.implicits._
    graft.functions.NativeFunctions.register(spark)
    val word = Gen.oneOf("a", "bb", "ccc", "dog", "cat", "x1", "Yz")
    val sep = Gen.oneOf(" ", "  ", "\t", "\n", " \t ")
    val textGen = for {
      k <- Gen.chooseNum(0, 12)
      ws <- Gen.listOfN(k, word)
      ss <- Gen.listOfN(k, sep)
    } yield ws.zip(ss).map { case (w, s) => w + s }.mkString
    forSamples(Gen.listOfN(30, textGen), n = 3) { texts =>
      val all = texts ++ Seq("", "   ", "one two", "a b c a b c a b c")
      val df = all.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      def dump(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => r.toSeq.mkString("|")).toSeq.sorted
      val native = dump(graft.operators.Dedup.minhashSignatureMatrix(df, 8))
      val agg = dump(graft.operators.Dedup.minhashSignatureMatrixAgg(df, 8))
      assert(native === agg)
    }
  }

  test("connected components match a reference union-find on random graphs") {
    import spark.implicits._
    val edgeGen = Gen.listOfN(25,
      Gen.zip(Gen.chooseNum(0L, 19L), Gen.chooseNum(0L, 19L)))
      .map(_.filter { case (a, b) => a != b })
      .suchThat(_.nonEmpty)
    forSamples(edgeGen, n = 6) { edges =>
      // reference: plain union-find over the same edges
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // canonicalize to min-of-component (union-find roots are already
      // mins because unions always point the larger root at the smaller,
      // but re-resolve paths to be safe)
      val expected = parent.keys.map(k => k -> find(k)).toMap
      // driver union-find path (default threshold) AND the distributed
      // min-label loop (forced with maxDriverEdges = 0) must both match
      val gotDriver = graft.operators.Dedup
        .connectedComponents(edges.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotDriver === expected, s"driver path, edges: $edges")
      val gotDist = graft.operators.Dedup
        .connectedComponents(edges.toDF("a", "b"), maxDriverEdges = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotDist === expected, s"distributed path, edges: $edges")
    }
  }

  test("Iceberg transforms: staging expression equals the value-level evaluation") {
    // the write side (Transforms.columnExpr, what stagePartitioned
    // derives the directory/tuple value from) and the prune side
    // (Transforms.apply, what merge key pruning and range pruning map
    // batch/bound values through) MUST agree on every value — a
    // disagreement silently prunes files holding real matches
    import graft.sources.IcebergLog.{SpecField, Transforms}
    import org.apache.spark.sql.functions.col
    val s = spark
    import s.implicits._
    val longs: Gen[Long] = Gen.chooseNum(Long.MinValue / 4, Long.MaxValue / 4)
    forSamples(Gen.listOfN(40, longs), n = 5) { vs =>
      // day over epoch-micros longs and over timestamps (the cast
      // reads the long as SECONDS — bounded to ±317 years so ANSI
      // timestamp casting never overflows; the agreement assert only
      // needs both sides to see the same instant)
      val micros = vs.map(v => v % (1L << 48))
      val df = micros.toDF("ts_us")
        .withColumn("ts", (col("ts_us") % 10000000000L).cast("timestamp"))
      def evalCol(f: SpecField, src: String): Seq[Any] = {
        val dt = df.schema(src).dataType
        df.select(Transforms.columnExpr(f, dt)).collect().map(_.get(0)).toSeq
      }
      assert(evalCol(SpecField(1, "d", "day", "ts_us"), "ts_us") ===
        micros.map(Transforms("day", _)))
      val viaTs = evalCol(SpecField(1, "d", "day", "ts"), "ts")
      val expTs = df.select(col("ts")).collect()
        .map(r => Transforms("day", r.get(0))).toSeq
      assert(viaTs === expTs)
      // bucket + truncate over longs
      assert(evalCol(SpecField(1, "b", "bucket[16]", "ts_us"), "ts_us") ===
        micros.map(Transforms("bucket[16]", _)))
      assert(evalCol(SpecField(1, "t", "truncate[1000]", "ts_us"), "ts_us") ===
        micros.map(Transforms("truncate[1000]", _)))
    }
    // strings, including astral-plane code points (truncate counts code
    // points, not UTF-16 chars) and multi-byte UTF-8 (bucket hashes the
    // UTF-8 bytes)
    val strs: Gen[String] = Gen.listOfN(12, Gen.frequency(
      6 -> Gen.alphaNumChar.map(_.toString),
      2 -> Gen.oneOf("é", "中", "ß"),
      1 -> Gen.oneOf("😀", "🦚"))).map(_.mkString)
    forSamples(Gen.listOfN(40, strs), n = 5) { vs =>
      val df = vs.toDF("v")
      def evalCol(f: SpecField): Seq[Any] =
        df.select(Transforms.columnExpr(f,
          org.apache.spark.sql.types.StringType)).collect().map(_.get(0)).toSeq
      assert(evalCol(SpecField(1, "b", "bucket[8]", "v")) ===
        vs.map(Transforms("bucket[8]", _)))
      assert(evalCol(SpecField(1, "t", "truncate[5]", "v")) ===
        vs.map(Transforms("truncate[5]", _)))
    }
    // the Iceberg spec's published hash vectors (Appendix B): the bucket
    // contract this writer must share with every external reader
    assert(Transforms.bucketOf(34L, Int.MaxValue) ===
      (2017239379 & Int.MaxValue) % Int.MaxValue)
    assert(Transforms.murmur3(java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(34L).array()) ===
      2017239379)
    assert(Transforms.murmur3(
      "iceberg".getBytes(java.nio.charset.StandardCharsets.UTF_8)) ===
      1210000089)
  }

  test("Iceberg lifecycle fuzz: random op sequences match an in-memory model") {
    icebergLifecycleFuzz(dayPartitioned = false, samples = 6)
  }

  test("Iceberg lifecycle fuzz over a days(ts)-partitioned table") {
    // the SAME op mix over HIDDEN partitioning (`day(ts) AS ts_day`):
    // every restaging verb (merge, rewrite) must keep the derived
    // tuples, reads must never leak the derived column, and the
    // changelog still folds to the model after every op
    icebergLifecycleFuzz(dayPartitioned = true, samples = 4)
  }

  /** An optional REPLACE WHERE step for the lifecycle fuzzers: a key
    * range `[lo, hi]` and a batch of distinct keys inside it (empty about
    * one time in four — a pure range delete), `None` about two times in
    * three.
    */
  private def replaceWhereGen[Op](mk: (Long, Long, Seq[(Long, Long)]) => Op)
      : Gen[Option[Op]] = {
    val step = for {
      lo <- Gen.choose(0L, 9L)
      hi <- Gen.choose(lo, math.min(lo + 4L, 9L))
      keys <- Gen.frequency(1 -> Gen.const(Nil),
        3 -> Gen.nonEmptyListOf(Gen.choose(lo, hi)))
      tag <- Gen.choose(0L, 1000L)
    } yield mk(lo, hi, keys.distinct.map(k => k -> (k * 1000 + tag)))
    Gen.frequency(2 -> Gen.const(None), 1 -> step.map(Some(_)))
  }

  /** The fuzzers' steps: each generated op with its batch and delete key,
    * followed by its optional step from each of `extras` (REPLACE WHERE
    * from [[replaceWhereGen]], the merge-on-read merge), which reuse that
    * batch and key. The extra lists are drawn after the other lists,
    * which therefore draw exactly as they did before those steps joined
    * the fuzz.
    */
  private def withExtraSteps[Op](ops: Seq[Op], batches: Seq[Seq[(Long, Long)]],
      delKeys: Seq[Long], extras: Seq[Option[Op]]*)
      : Seq[((Op, Seq[(Long, Long)]), Long)] =
    ops.indices.flatMap { i =>
      ((ops(i), batches(i)), delKeys(i)) +:
        extras.flatMap(_(i)).map(x => ((x, batches(i)), delKeys(i)))
    }

  /** The Delta fuzz's mirror for the second format: append / merge /
    * MoR merge / deleteWhere / MoR deletes / rewrite / expireSnapshots
    * interleavings, model-checked after every step, with history replay
    * for snapshots the expiry hasn't dropped. `dayPartitioned` runs the
    * whole mix over a days(ts)-partitioned table (ts derived from the
    * id, so the model stays id → payload).
    */
  private def icebergLifecycleFuzz(dayPartitioned: Boolean,
      samples: Int): Unit = {
    import graft.sources.IcebergLog
    import org.apache.spark.sql.functions.col
    val s = spark
    import s.implicits._
    val daySpec = Seq(IcebergLog.SpecField(2, "ts_day", "day", "ts"))
    sealed trait Op
    case object Append extends Op
    case object Merge extends Op
    case object Delete extends Op
    case object PosDelete extends Op
    case object EqDelete extends Op
    case object Rewrite extends Op
    case object Expire extends Op
    case object MergeMoR extends Op
    final case class ReplaceWhere(lo: Long, hi: Long,
        batch: Seq[(Long, Long)]) extends Op
    val opGen: Gen[Op] = Gen.frequency(4 -> Gen.const(Append),
      3 -> Gen.const(Merge),
      2 -> Gen.const(Delete), 2 -> Gen.const(PosDelete),
      2 -> Gen.const(EqDelete), 1 -> Gen.const(Rewrite),
      1 -> Gen.const(Expire))
    val batchGen: Gen[Seq[(Long, Long)]] = for {
      n <- Gen.choose(1, 4)
      keys <- Gen.listOfN(n, Gen.choose(0L, 9L))
      tag <- Gen.choose(0L, 1000L)
    } yield keys.distinct.map(k => k -> (k * 1000 + tag))
    // a merge-on-read merge after about one op in three
    val morGen: Gen[Option[Op]] =
      Gen.frequency(2 -> Gen.const(None), 1 -> Gen.const(Some(MergeMoR)))
    forSamples(Gen.zip(Gen.listOfN(8, opGen), Gen.listOfN(8, batchGen),
        Gen.listOfN(8, Gen.choose(0L, 9L)),
        Gen.listOfN(8, replaceWhereGen(ReplaceWhere)),
        Gen.listOfN(8, morGen)), n = samples) {
      case (ops0, batches0, delKeys0, replaces, mors) =>
        val steps = withExtraSteps(ops0, batches0, delKeys0, replaces, mors)
        val ops = steps.map(_._1._1)
        val tbl = java.nio.file.Files
          .createTempDirectory("graft-ice-fuzz").toString + "/t"
        var model = Map.empty[Long, Long]
        var history = Vector.empty[(Long, Map[Long, Long])] // sid -> model
        var oldestKept = Long.MinValue
        var hadEqDelete = false // changelog refuses eq-delete snapshots
        // day mode: ts derives from the id (one id per day), so every
        // payload update keeps its key's partition and the model needs
        // no ts tracking
        def df(rows: Seq[(Long, Long)]) = {
          val base = rows.toDF("id", "payload").repartition(1)
          if (!dayPartitioned) base
          else base.withColumn("ts",
            (col("id") * 86400L + 43200L).cast("timestamp"))
        }
        def exists = new java.io.File(s"$tbl/metadata").isDirectory
        // the changelog FOLDS to the model: replaying insert/delete
        // records from the oldest surviving snapshot's state reproduces
        // the current model exactly — the x55-family invariant under
        // every random op interleaving (skipped once an equality delete
        // lands: the changelog refuses those loudly by contract)
        def changelogFold(): Unit = if (!hadEqDelete && model.nonEmpty) {
          val from = if (oldestKept == Long.MinValue) 0L else oldestKept
          val base: Map[Long, Long] =
            if (from == 0L) Map.empty
            else history.find(_._1 == from).map(_._2).getOrElse(Map.empty)
          val ch = IcebergLog.changesBetween(spark, tbl, from).collect()
            .map(r => (r.getAs[Long]("_snapshot_id"),
              r.getAs[String]("_change_type"),
              r.getAs[Long]("id"), r.getAs[Long]("payload")))
          var st = base
          ch.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (_, recs) =>
            // within a snapshot an overwritten key emits delete(old) +
            // insert(new): deletes apply first
            recs.filter(_._2 == "delete").foreach { case (_, _, k, v) =>
              assert(st.get(k).contains(v),
                s"changelog deletes ($k,$v) the model never held, ops $ops")
              st -= k
            }
            recs.filter(_._2 == "insert").foreach { case (_, _, k, v) =>
              st += (k -> v)
            }
          }
          assert(st === model, s"changelog fold mismatch after ops $ops")
        }
        def check(): Unit = {
          if (model.isEmpty) {
            intercept[Exception] { IcebergLog.read(spark, tbl).collect() }
          } else {
            val live = IcebergLog.read(spark, tbl)
            assert(!live.columns.contains("ts_day"),
              s"derived day column leaked into reads after ops $ops")
            val rows = live.collect()
              .map(r => r.getAs[Long]("id") -> r.getAs[Long]("payload")).toSeq
            assert(rows.map(_._1).distinct.size === rows.size,
              s"DUPLICATE ids after ops $ops: ${rows.sorted}")
            assert(rows.toMap === model, s"live mismatch after ops $ops")
            // hidden-partition range reads stay row-exact through every
            // restage (tuples decide files, the residual decides rows);
            // the prune path is delete-blind by contract, so only when
            // no delete file is live
            if (dayPartitioned && IcebergLog.liveSplitEntries(tbl)._2.isEmpty) {
              val ts = (k: Long) => java.sql.Timestamp.from(
                java.time.Instant.ofEpochSecond(k * 86400 + 43200))
              val got = IcebergLog.readSourceRange(spark, tbl, "ts",
                  Some(ts(0L)), Some(ts(4L))).collect()
                .map(r => r.getAs[Long]("id") -> r.getAs[Long]("payload")).toMap
              assert(got === model.filter(_._1 <= 4L),
                s"day-range read mismatch after ops $ops")
            }
          }
          history.filter(h => h._1 >= oldestKept && h._2.nonEmpty)
            .foreach { case (sid, m) =>
              val h = IcebergLog.read(spark, tbl, Some(sid)).collect()
                .map(r => r.getAs[Long]("id") -> r.getAs[Long]("payload")).toMap
              assert(h === m, s"snapshot $sid mismatch after ops $ops")
            }
        }
        steps.foreach { case ((op, batch), delKey) =>
          op match {
            case Append =>
              val fresh = batch.filterNot { case (k, _) => model.contains(k) }
              if (fresh.nonEmpty) {
                val sid =
                  if (dayPartitioned)
                    IcebergLog.appendPartitionedSpec(df(fresh), tbl,
                      daySpec, Seq(1 -> "id"))
                  else IcebergLog.append(df(fresh), tbl, Seq(1 -> "id"))
                model = model ++ fresh.toMap
                history :+= ((sid, model))
              }
            case Merge if exists && model.nonEmpty =>
              // CoW upsert: matched keys take the batch payload, fresh
              // keys insert — reads THROUGH live delete files (a
              // MoR-dead key re-inserts, never resurrect-updates), so
              // it interleaves freely with PosDelete/EqDelete
              val st = IcebergLog.merge(spark, tbl, df(batch), Seq("id"),
                Seq(1 -> "id"))
              assert(st.rowsUpdated ===
                  batch.count { case (k, _) => model.contains(k) }.toLong &&
                st.rowsInserted ===
                  batch.count { case (k, _) => !model.contains(k) }.toLong,
                s"merge stats mismatch after ops $ops: $st")
              model = model ++ batch.toMap
              history :+= ((st.snapshotId, model))
            case MergeMoR if exists && model.nonEmpty =>
              // kill-and-insert upsert: matched rows die in one position-
              // delete file, the batch appends — the CoW merge's model
              // (the model never holds duplicate ids, so the dup-target
              // refusal cannot fire)
              val st = IcebergLog.mergeMoR(spark, tbl, df(batch), Seq("id"),
                Seq(1 -> "id"))
              assert(st.rowsUpdated ===
                  batch.count { case (k, _) => model.contains(k) }.toLong &&
                st.rowsInserted ===
                  batch.count { case (k, _) => !model.contains(k) }.toLong &&
                st.filesRewritten === 0,
                s"MoR merge stats mismatch after ops $ops: $st")
              model = model ++ batch.toMap
              history :+= ((st.snapshotId, model))
            case Delete if exists && model.nonEmpty =>
              // CoW delete is a delete-blind planning path: it must
              // REFUSE while v2 delete files are live (resurrection
              // hazard), and work again after a Rewrite compacts them
              if (IcebergLog.liveSplitEntries(tbl)._2.nonEmpty) {
                intercept[IllegalArgumentException] {
                  IcebergLog.deleteWhere(spark, tbl,
                    col("id") === delKey, Seq(1 -> "id"))
                }
              } else {
                val st = IcebergLog.deleteWhere(spark, tbl,
                  col("id") === delKey, Seq(1 -> "id"))
                if (model.contains(delKey)) {
                  model -= delKey
                  history :+= ((st.snapshotId, model))
                }
              }
            case PosDelete if exists && model.nonEmpty =>
              // MoR position delete: one delete file, no rewrite;
              // matching nothing is a no-op (no empty snapshot)
              val st = IcebergLog.deletePositionsWhere(spark, tbl,
                col("id") === delKey)
              if (model.contains(delKey)) {
                assert(st.rowsDeleted === 1L,
                  s"pos-delete of live id $delKey deleted ${st.rowsDeleted}")
                model -= delKey
                history :+= ((st.snapshotId, model))
              } else assert(st.rowsDeleted === 0L,
                s"pos-delete of absent id $delKey deleted rows")
            case EqDelete if exists && model.nonEmpty =>
              // MoR equality delete by key, no scan: applies to files
              // STRICTLY older, so a LATER append of the same id (the
              // fuzz's fresh-key appends allow exactly that once the id
              // leaves the model) must survive it — the sequence-rule
              // interleaving that matters at CDC scale
              val sid = IcebergLog.deleteEqualityKeys(tbl,
                Seq(delKey).toDF("id"), equalityFieldIds = Seq(1))
              hadEqDelete = true
              model -= delKey
              history :+= ((sid, model))
            case Rewrite if exists && model.nonEmpty =>
              // compaction: answer NEVER changes, delete files vanish,
              // delete-blind paths work again
              val rs = IcebergLog.rewriteDataFiles(spark, tbl,
                statsFields = Seq(1 -> "id"))
              assert(IcebergLog.liveSplitEntries(tbl)._2.isEmpty,
                s"delete files survived rewrite after ops $ops")
              if (rs.filesAdded > 0) history :+= ((rs.snapshotId, model))
            case ReplaceWhere(lo, hi, rows) if exists && model.nonEmpty =>
              // CoW range swap: delete-then-insert in ONE snapshot; a
              // delete-blind path like Delete, so it refuses while v2
              // delete files are live
              val range = col("id").between(lo, hi)
              if (IcebergLog.liveSplitEntries(tbl)._2.nonEmpty) {
                intercept[IllegalArgumentException] {
                  IcebergLog.replaceWhere(spark, tbl, range, df(rows),
                    Seq(1 -> "id"))
                }
              } else {
                val st = IcebergLog.replaceWhere(spark, tbl, range,
                  df(rows), Seq(1 -> "id"))
                val hit = model.keySet.filter(k => k >= lo && k <= hi)
                assert(st.rowsDeleted === hit.size.toLong &&
                  st.rowsInserted === rows.size.toLong,
                  s"replaceWhere stats mismatch after ops $ops: $st")
                if (hit.nonEmpty || rows.nonEmpty) {
                  model = model -- hit ++ rows.toMap
                  history :+= ((st.snapshotId, model))
                }
              }
            case Expire if exists && history.nonEmpty =>
              val keep = 1 + (delKey % 2).toInt // keep 1 or 2 newest
              IcebergLog.expireSnapshots(tbl, keep)
              val survivors = history.takeRight(keep).map(_._1)
              oldestKept = survivors.min
              // expired ids must now refuse loudly
              history.filter(_._1 < oldestKept).foreach { case (sid, _) =>
                intercept[IllegalArgumentException] {
                  IcebergLog.read(spark, tbl, Some(sid)).collect()
                }
              }
            case _ =>
          }
          if (exists) { check(); changelogFold() }
        }
    }
  }

  test("Delta lifecycle fuzz: random op sequences match an in-memory model") {
    // the strongest robustness claim for the write path: after EVERY
    // step of a random append/overwrite/merge/delete/MoR-DV-delete/
    // purge/optimize/checkpoint/expire/restore/enable-mapping/rename
    // sequence, DeltaLog.read equals a trivial in-memory reference model
    // of table contents — and time travel to any still-replayable
    // version equals the model's history under THAT version's column
    // names (renames are per-epoch). As of r18 the copy-on-write verbs
    // (merge/delete/optimize/zorder) COMPOSE with live deletion
    // vectors — the fuzz interleaves them with MoR deletes freely and
    // re-derives DV liveness from the log after each rewrite. Every
    // mutation runs on MAPPED tables too (r17), so the sequences cross
    // enable-mapping + renames; restore still skips once mapped (it
    // now restores metadata too, which would revert the payload
    // column name under the model's feet — modeling that corner is
    // out of scope).
    import graft.sources.{DeltaLog, DeltaWrite}
    import org.apache.spark.sql.functions.col
    val s = spark
    import s.implicits._
    sealed trait Op
    case object Append extends Op
    case object Overwrite extends Op
    case object Merge extends Op
    case object DvMerge extends Op
    case object Delete extends Op
    case object DvDelete extends Op
    case object Purge extends Op
    case object Optimize extends Op
    case object ZOrder extends Op
    case object CheckpointExpire extends Op
    case object Restore extends Op
    case object EnableMapping extends Op
    case object Rename extends Op
    final case class ReplaceWhere(lo: Long, hi: Long,
        batch: Seq[(Long, Long)]) extends Op
    val opGen: Gen[Op] = Gen.frequency(4 -> Gen.const(Append),
      1 -> Gen.const(Overwrite), 2 -> Gen.const(Merge),
      2 -> Gen.const(DvMerge),
      2 -> Gen.const(Delete), 2 -> Gen.const(DvDelete),
      1 -> Gen.const(Purge), 1 -> Gen.const(Optimize),
      1 -> Gen.const(ZOrder),
      1 -> Gen.const(CheckpointExpire), 1 -> Gen.const(Restore),
      1 -> Gen.const(EnableMapping), 1 -> Gen.const(Rename))
    val batchGen: Gen[Seq[(Long, Long)]] = for {
      n <- Gen.choose(1, 4)
      keys <- Gen.listOfN(n, Gen.choose(0L, 9L))
      tag <- Gen.choose(0L, 1000L)
    } yield keys.distinct.map(k => k -> (k * 1000 + tag))
    forSamples(Gen.zip(Gen.listOfN(10, opGen), Gen.listOfN(10, batchGen),
        Gen.listOfN(10, Gen.choose(0L, 9L)),
        Gen.listOfN(10, replaceWhereGen(ReplaceWhere))), n = 6) {
      case (ops0, batches0, delKeys0, replaces) =>
        val steps = withExtraSteps(ops0, batches0, delKeys0, replaces)
        val ops = steps.map(_._1._1)
        val tbl = java.nio.file.Files
          .createTempDirectory("graft-delta-fuzz").toString + "/t"
        var model = Map.empty[Long, Long] // id -> payload (merge keyed on id)
        // version -> (model, payload column name at that version)
        var history = Vector.empty[(Long, Map[Long, Long], String)]
        var expiredBelow = -1L // versions at/below this are unreadable
        var mapped = false
        var payloadCol = "payload"
        var hasDv = false
        def df(rows: Seq[(Long, Long)]) =
          rows.toDF("id", payloadCol).repartition(1)
        def check(): Unit = {
          if (model.isEmpty) {
            // an all-rows-deleted table has no live files; the reader
            // refuses loudly rather than inventing a schema
            intercept[Exception] { DeltaLog.read(spark, tbl).collect() }
          } else {
            val rows = DeltaLog.read(spark, tbl)
              .select(col("id"), col(payloadCol)).collect()
              .map(r => r.getLong(0) -> r.getLong(1)).toSeq
            assert(rows.map(_._1).distinct.size === rows.size,
              s"DUPLICATE ids in live table: ${rows.sorted} after ops $ops")
            assert(rows.toMap === model, s"live mismatch after ops $ops: got ${rows.sorted}")
          }
          // every still-replayable non-empty historical version too,
          // under the column names of ITS epoch
          history.filter(h => h._1 > expiredBelow && h._2.nonEmpty)
            .foreach { case (v, m, pc) =>
              val h = DeltaLog.read(spark, tbl, Some(v))
                .select(col("id"), col(pc)).collect()
                .map(r => r.getLong(0) -> r.getLong(1)).toMap
              assert(h === m, s"history v$v mismatch after ops $ops")
            }
        }
        steps.foreach { case ((op, batch), delKey) =>
          val exists = new java.io.File(s"$tbl/_delta_log").isDirectory
          op match {
            case Append =>
              // appends do NOT upsert: an existing id would legitimately
              // duplicate, which the keyed model can't express — restrict
              // appends to fresh keys (merge covers the update semantics)
              val fresh = batch.filterNot { case (k, _) => model.contains(k) }
              if (fresh.nonEmpty) {
                val v = DeltaWrite.append(df(fresh), tbl)
                model = model ++ fresh.toMap
                history :+= ((v, model, payloadCol))
              }
            case Overwrite =>
              val v = DeltaWrite.overwrite(df(batch), tbl)
              model = batch.toMap
              hasDv = false // every prior file (and its DV) left the live set
              history :+= ((v, model, payloadCol))
            case Merge if exists && model.nonEmpty =>
              val st = DeltaWrite.merge(tbl, df(batch), Seq("id"))
              model = model ++ batch.toMap
              // touched files dropped their DVs in the rewrite;
              // untouched files keep theirs — re-derive from the log
              hasDv = DeltaLog.liveAdds(spark, tbl).exists(_.dv.isDefined)
              history :+= ((st.version, model, payloadCol))
            case DvMerge if exists && model.nonEmpty =>
              // kill-and-insert upsert: matched rows die via DV, batch
              // appends — same model semantics as the CoW merge (the
              // model never holds duplicate ids, so the dup-target
              // refusal cannot fire)
              val st = DeltaWrite.mergeDv(spark, tbl, df(batch), Seq("id"))
              model = model ++ batch.toMap
              hasDv = DeltaLog.liveAdds(spark, tbl).exists(_.dv.isDefined)
              history :+= ((st.version, model, payloadCol))
            case Delete if exists && model.nonEmpty =>
              val st = DeltaWrite.deleteWhere(spark, tbl, col("id") === delKey)
              hasDv = DeltaLog.liveAdds(spark, tbl).exists(_.dv.isDefined)
              if (model.contains(delKey)) {
                model -= delKey
                history :+= ((st.version, model, payloadCol))
              }
            case ReplaceWhere(lo, hi, rows) if exists && model.nonEmpty =>
              // CoW range swap: delete-then-insert in ONE commit, reading
              // through live DVs and retiring the rewritten files' ones
              val st = DeltaWrite.replaceWhere(spark, tbl,
                col("id").between(lo, hi), df(rows))
              val hit = model.keySet.filter(k => k >= lo && k <= hi)
              assert(st.rowsDeleted === hit.size.toLong &&
                st.rowsInserted === rows.size.toLong,
                s"replaceWhere stats mismatch after ops $ops: $st")
              hasDv = DeltaLog.liveAdds(spark, tbl).exists(_.dv.isDefined)
              if (hit.nonEmpty || rows.nonEmpty) {
                model = model -- hit ++ rows.toMap
                history :+= ((st.version, model, payloadCol))
              }
            case DvDelete if exists && model.nonEmpty =>
              val st = DeltaWrite.deleteWhereDv(spark, tbl,
                col("id") === delKey)
              if (model.contains(delKey)) {
                model -= delKey
                hasDv = true // at least the touched file carries one now
                history :+= ((st.version, model, payloadCol))
              }
            case Purge if exists && hasDv =>
              val st = DeltaWrite.purgeDeletionVectors(spark, tbl)
              hasDv = false
              if (st.filesPurged > 0 && model.nonEmpty)
                history :+= ((st.version, model, payloadCol))
            case Optimize if exists && model.nonEmpty =>
              val st = DeltaWrite.optimize(spark, tbl, 1L << 30)
              if (st.filesCompacted > 0) {
                // every DV-carrying file rewrites (the purge point)
                hasDv = DeltaLog.liveAdds(spark, tbl)
                  .exists(_.dv.isDefined)
                history :+= ((st.version, model, payloadCol))
              }
            case ZOrder if exists && model.nonEmpty =>
              // full-table re-cluster over the two numeric columns:
              // rows must be IDENTICAL after (dataChange:false), and
              // live DVs retire in the rewrite
              val st = DeltaWrite.optimizeZOrder(spark, tbl,
                Seq("id", payloadCol))
              hasDv = false
              history :+= ((st.version, model, payloadCol))
            case CheckpointExpire if exists && model.nonEmpty =>
              val cp = DeltaWrite.checkpoint(spark, tbl)
              DeltaWrite.expireLog(tbl)
              expiredBelow = cp // only strictly-newer commits replay as targets
            case Restore if exists && !mapped && !hasDv &&
                history.exists(_._1 > expiredBelow) =>
              val (v, m, _) = history.filter(_._1 > expiredBelow).head
              val st = DeltaWrite.restoreTo(spark, tbl, v)
              model = m
              // the restored snapshot may re-instate DV-carrying adds
              hasDv = DeltaLog.liveAdds(spark, tbl).exists(_.dv.isDefined)
              if (st.filesRemoved + st.filesReAdded > 0)
                history :+= ((st.version, model, payloadCol))
            case EnableMapping if exists && model.nonEmpty && !mapped =>
              val v = DeltaWrite.enableColumnMapping(spark, tbl)
              mapped = true
              history :+= ((v, model, payloadCol))
            case Rename if exists && mapped && model.nonEmpty =>
              val next = if (payloadCol == "payload") "payload_r" else "payload"
              val v = DeltaWrite.renameColumn(spark, tbl, payloadCol, next)
              payloadCol = next
              history :+= ((v, model, payloadCol))
            case _ => // op not applicable yet: skip
          }
          if (exists || new java.io.File(s"$tbl/_delta_log").isDirectory)
            check()
        }
    }
  }
  test("Partitioned Delta lifecycle fuzz: random op sequences match an in-memory model; CDF folds to it") {
    // the r18 surface crossed end to end: a PARTITIONED table under a
    // random append/merge/delete/partition-delete/MoR-DV-delete/purge/
    // optimize/zorder/enable-mapping/rename sequence must, after EVERY
    // step, read back equal to a trivial in-memory model — merges may
    // MOVE rows between partitions, partition-conjunct deletes prune
    // from the log, CoW verbs compose with live DVs, and the whole run
    // happens twice over: once unmapped, then (when the op fires) under
    // column mapping with renames. The change data feed is enabled
    // before the first mutation; at the END of each sequence the feed
    // folds (last commit per key wins, preimages dropped — the x39
    // mirror rule) to exactly the final model, which pins every
    // emission path (partitioned merge cdc, partitioned delete cdc, DV
    // delete cdc, derived partitioned inserts) in one property.
    import graft.sources.{DeltaLog, DeltaWrite}
    import org.apache.spark.sql.functions.col
    val s = spark
    import s.implicits._
    sealed trait Op
    case object Append extends Op
    case object Merge extends Op
    case object DvMerge extends Op
    case object Delete extends Op
    case object PartitionDelete extends Op
    case object DvDelete extends Op
    case object Purge extends Op
    case object Optimize extends Op
    case object ZOrder extends Op
    case object EnableMapping extends Op
    case object Rename extends Op
    val opGen: Gen[Op] = Gen.frequency(3 -> Gen.const(Append),
      3 -> Gen.const(Merge), 2 -> Gen.const(DvMerge),
      2 -> Gen.const(Delete),
      1 -> Gen.const(PartitionDelete), 2 -> Gen.const(DvDelete),
      1 -> Gen.const(Purge), 1 -> Gen.const(Optimize),
      1 -> Gen.const(ZOrder), 1 -> Gen.const(EnableMapping),
      1 -> Gen.const(Rename))
    val parts = Seq("pa", "pb", "pc")
    val batchGen: Gen[Seq[(Long, String, Long)]] = for {
      n <- Gen.choose(1, 4)
      keys <- Gen.listOfN(n, Gen.choose(0L, 9L))
      ps <- Gen.listOfN(n, Gen.oneOf(parts))
      tag <- Gen.choose(0L, 1000L)
    } yield keys.distinct.zip(ps).map { case (k, p) =>
      (k, p, k * 1000 + tag)
    }
    forSamples(Gen.zip(Gen.listOfN(8, opGen), Gen.listOfN(8, batchGen),
        Gen.listOfN(8, Gen.choose(0L, 9L))), n = 5) {
      case (ops, batches, delKeys) =>
        val tbl = java.nio.file.Files
          .createTempDirectory("graft-dpart-fuzz").toString + "/t"
        var model = Map.empty[Long, (String, Long)] // id -> (part, payload)
        var history = Vector.empty[(Long, Map[Long, (String, Long)], String)]
        var mapped = false
        var payloadCol = "payload"
        def df(rows: Seq[(Long, String, Long)]) =
          rows.map { case (k, p, v) => (k, p, v) }
            .toDF("id", "part", payloadCol).repartition(1)
        def check(): Unit = {
          if (model.isEmpty) {
            intercept[Exception] { DeltaLog.read(spark, tbl).collect() }
          } else {
            val rows = DeltaLog.read(spark, tbl)
              .select(col("id"), col("part"), col(payloadCol)).collect()
              .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
              .toSeq
            assert(rows.map(_._1).distinct.size === rows.size,
              s"DUPLICATE ids after ops $ops: ${rows.sortBy(_._1)}")
            assert(rows.toMap === model, s"live mismatch after ops $ops")
          }
          history.filter(_._2.nonEmpty).foreach { case (v, m, pc) =>
            val h = DeltaLog.read(spark, tbl, Some(v))
              .select(col("id"), col("part"), col(s"`$pc`")).collect()
              .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
              .toMap
            assert(h === m, s"history v$v mismatch after ops $ops")
          }
        }
        // seed + enable the feed before any fuzzed mutation, so the
        // whole mutation range is CDF-covered
        val seed = batches.head
        DeltaWrite.appendPartitioned(df(seed), tbl, Seq("part"))
        model = seed.map { case (k, p, v) => k -> ((p, v)) }.toMap
        history :+= ((0L, model, payloadCol))
        val enableV = DeltaWrite.enableChangeDataFeed(spark, tbl)
        val seedModel = model
        var changed = false
        ops.zip(batches.tail :+ batches.head).zip(delKeys)
          .foreach { case ((op, batch), delKey) =>
          op match {
            case Append =>
              val fresh = batch.filterNot { case (k, _, _) =>
                model.contains(k) }
              if (fresh.nonEmpty) {
                val v = DeltaWrite.appendPartitioned(df(fresh), tbl,
                  Seq("part"))
                model = model ++ fresh.map { case (k, p, vv) =>
                  k -> ((p, vv)) }.toMap
                history :+= ((v, model, payloadCol))
                changed = true
              }
            case Merge if model.nonEmpty =>
              val st = DeltaWrite.merge(tbl, df(batch), Seq("id"))
              model = model ++ batch.map { case (k, p, vv) =>
                k -> ((p, vv)) }.toMap
              history :+= ((st.version, model, payloadCol))
              changed = true
            case DvMerge if model.nonEmpty =>
              // DV merge may MOVE a row between partitions too: the old
              // row dies in place (bitmap), the batch row lands in its
              // new partition's fresh file; the feed emits the same
              // pre/post/insert rows as the CoW merge, so the fold
              // cannot tell the write modes apart — which is the pin
              val st = DeltaWrite.mergeDv(spark, tbl, df(batch), Seq("id"))
              model = model ++ batch.map { case (k, p, vv) =>
                k -> ((p, vv)) }.toMap
              history :+= ((st.version, model, payloadCol))
              changed = true
            case Delete if model.nonEmpty =>
              val st = DeltaWrite.deleteWhere(spark, tbl,
                col("id") === delKey)
              if (model.contains(delKey)) {
                model -= delKey
                history :+= ((st.version, model, payloadCol))
                changed = true
              }
            case PartitionDelete if model.nonEmpty =>
              // a partition conjunct + a data conjunct: the match scan
              // prunes to the 'pa' files from the log alone
              val st = DeltaWrite.deleteWhere(spark, tbl,
                col("part") === "pa" && col("id") % 2 === delKey % 2)
              val dead = model.filter { case (k, (p, _)) =>
                p == "pa" && k % 2 == delKey % 2 }.keySet
              if (dead.nonEmpty) {
                assert(st.rowsDeleted === dead.size.toLong)
                model --= dead
                history :+= ((st.version, model, payloadCol))
                changed = true
              }
            case DvDelete if model.nonEmpty =>
              val st = DeltaWrite.deleteWhereDv(spark, tbl,
                col("id") === delKey)
              if (model.contains(delKey)) {
                model -= delKey
                history :+= ((st.version, model, payloadCol))
                changed = true
              }
            case Purge =>
              if (DeltaLog.liveAdds(spark, tbl).exists(_.dv.isDefined)) {
                val st = DeltaWrite.purgeDeletionVectors(spark, tbl)
                if (st.filesPurged > 0 && model.nonEmpty)
                  history :+= ((st.version, model, payloadCol))
              }
            case Optimize if model.nonEmpty =>
              val st = DeltaWrite.optimize(spark, tbl, 1L << 30)
              if (st.filesCompacted > 0)
                history :+= ((st.version, model, payloadCol))
            case ZOrder if model.nonEmpty =>
              // z columns are DATA columns (part is the tuple)
              val st = DeltaWrite.optimizeZOrder(spark, tbl,
                Seq("id", payloadCol))
              history :+= ((st.version, model, payloadCol))
            case EnableMapping if model.nonEmpty && !mapped =>
              val v = DeltaWrite.enableColumnMapping(spark, tbl)
              mapped = true
              history :+= ((v, model, payloadCol))
            case Rename if mapped && model.nonEmpty =>
              val next =
                if (payloadCol == "payload") "payload_r" else "payload"
              val v = DeltaWrite.renameColumn(spark, tbl, payloadCol, next)
              payloadCol = next
              history :+= ((v, model, payloadCol))
            case _ => () // not applicable yet
          }
          check()
        }
        // FEED FOLD: replay every change since enablement, last commit
        // per key wins (preimages dropped); seed rows that never
        // changed stay from the base — must land exactly on the model
        if (changed) {
          val feed = DeltaLog.tableChanges(spark, tbl, enableV)
            .select(col("id"), col("part"), col(s"`$payloadCol`"),
              col("_change_type"), col("_commit_version"))
            .collect()
            .filter(_.getString(3) != "update_preimage")
          val folded = feed.groupBy(_.getLong(0))
            .foldLeft(seedModel) { case (m, (id, rows)) =>
              val last = rows.maxBy(_.getLong(4))
              if (last.getString(3) == "delete") m - id
              else m + (id -> ((last.getString(1), last.getLong(2))))
            }
          assert(folded === model,
            s"CDF fold diverged from the model after ops $ops")
        }
    }
  }

  test("pruned readers equal read() plus the predicate over generated Delta tables and UniForm mirrors") {
    import org.apache.spark.sql.{Column, DataFrame}
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{DataType, StructType}
    import graft.sources.{DeltaLog, DeltaWrite, IcebergLog, Uniform}
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-readers-prop")
      .toFile.getAbsolutePath
    // a pruned reader is read() over fewer files: same column names,
    // order and types, and read()'s rows under the same predicate
    def assertReadEquals(what: String, pruned: DataFrame, full: DataFrame,
        pred: Column): Unit = {
      val expected = full.filter(pred)
      assert(pruned.schema.map(f => (f.name, f.dataType)) ===
        expected.schema.map(f => (f.name, f.dataType)), what)
      def rows(df: DataFrame) = df.collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      val want = rows(expected)
      assert(want.nonEmpty, s"$what: the predicate selects no rows")
      assert(rows(pruned) === want, what)
    }
    // (rows of (cat, v), range start, range width); ids are 1..n
    val tableGen = for {
      n <- Gen.choose(4, 10)
      rows <- Gen.listOfN(n, Gen.zip(Gen.oneOf("a", "b", "c"),
        Gen.choose(0L, 99L)))
      lo <- Gen.choose(1L, n.toLong)
      width <- Gen.choose(0L, 3L)
    } yield (rows, lo, width)
    val layouts = for {
      partitioned <- Seq(false, true)
      mode <- Seq("none", "name", "id")
      evolved <- Seq(false, true)
    } yield (partitioned, mode, evolved)
    layouts.zipWithIndex.foreach { case ((partitioned, mode, evolved), i) =>
      val (gen, lo, width) =
        tableGen.pureApply(Gen.Parameters.default, Seed(i.toLong))
      val hi = lo + width
      val what = s"partitioned=$partitioned mode=$mode evolved=$evolved"
      val tbl = s"$root/t$i"
      val rows = gen.zipWithIndex.map { case ((c, v), j) => (j + 1L, c, v) }
      val (first, second) = rows.splitAt(rows.size / 2)
      val partCols = if (partitioned) Seq("cat") else Seq.empty
      def land(batch: DataFrame): Unit =
        if (partitioned) DeltaWrite.appendPartitioned(batch, tbl, partCols)
        else DeltaWrite.append(batch, tbl)
      if (mode == "id")
        DeltaWrite.createIdMapped(first.toDF("id", "cat", "v"), tbl, partCols)
      else land(first.toDF("id", "cat", "v"))
      land(second.toDF("id", "cat", "v"))
      // name mode renames a data column and, when partitioned, the
      // partition column (its pv stay keyed by the physical name)
      val catName = if (mode == "name" && partitioned) "category" else "cat"
      val vName = if (mode == "name") "val" else "v"
      if (mode == "name") {
        DeltaWrite.enableColumnMapping(spark, tbl)
        DeltaWrite.renameColumn(spark, tbl, "v", "val")
        if (partitioned) DeltaWrite.renameColumn(spark, tbl, "cat", catName)
      }
      if (evolved)
        DeltaWrite.merge(tbl,
          Seq((1L, rows.head._2, 500L, "n1"), (100L, "a", 1L, "n100"))
            .toDF("id", catName, vName, "note"),
          Seq("id"), mergeSchema = true)
      val range = col("id").between(lo, hi)
      val cat = rows.head._2
      assertReadEquals(s"Delta readRange, $what",
        DeltaLog.readRange(spark, tbl, "id", Some(lo), Some(hi)),
        DeltaLog.read(spark, tbl), range)
      if (partitioned)
        assertReadEquals(s"Delta readPartition, $what",
          DeltaLog.readPartition(spark, tbl, Map(catName -> cat)),
          DeltaLog.read(spark, tbl), col(catName) === cat)
      if (mode == "name") {
        val schema = DataType.fromJson(DeltaLog.tableMetaData(spark, tbl)
          .get("schemaString").asInstanceOf[String]).asInstanceOf[StructType]
        val idField =
          schema("id").metadata.getLong("delta.columnMapping.id").toInt
        assert(Uniform.deltaToIceberg(spark, tbl, Seq(idField -> "id"))
          .snapshotId.isDefined, what)
        def ice = IcebergLog.read(spark, tbl)
        assertReadEquals(s"Iceberg readRange, $what",
          IcebergLog.readRange(spark, tbl, "id", idField, Some(lo), Some(hi)),
          ice, range)
        assertReadEquals(s"Iceberg readSourceRange, $what",
          IcebergLog.readSourceRange(spark, tbl, "id", Some(lo), Some(hi)),
          ice, range)
        if (partitioned) {
          assertReadEquals(s"Iceberg readPartition, $what",
            IcebergLog.readPartition(spark, tbl, Map(catName -> cat)),
            ice, col(catName) === cat)
          assertReadEquals(s"Iceberg readPartitionRange, $what",
            IcebergLog.readPartitionRange(spark, tbl, Map(catName -> cat),
              "id", idField, Some(1L), Some(rows.size.toLong)),
            ice, col(catName) === cat && col("id").between(1L, rows.size))
          assertReadEquals(s"Iceberg readSourceRange on the partition, $what",
            IcebergLog.readSourceRange(spark, tbl, catName, Some(cat),
              Some(cat)),
            ice, col(catName) === cat)
        }
      }
    }
  }
}
