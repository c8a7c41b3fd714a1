package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._

/** WebDataset-style tar-shard container source (round 14 — SURVEY §2.2's
  * multimodal ➕ extended to the CONTAINER format LLM multimodal
  * pipelines actually ingest: directories of `.tar` shards, each holding
  * interleaved sample members — `<id>.bmp` image payload next to
  * `<id>.json` sidecar metadata, samples contiguous so a sequential
  * reader streams whole examples without seeking).
  *
  * The container has no tar library on the classpath, so `TarCodec`
  * implements the POSIX ustar format from the published spec (the
  * BmpCodec/WavCodec discipline): 512-byte headers with octal fields and
  * the space-padded checksum convention, content padded to block
  * boundaries, a 1024-byte zero end-of-archive marker, and the archive
  * padded to the standard 10240-byte blocking factor (`tar -b 20`).
  * Interop with GNU tar was verified once by hand (`tar -tvf` lists the
  * shards; SURVEY §6.24) — the committed gates are hermetic: a
  * hand-built golden header in PipelineSpec, loud-failure corners
  * (corrupt checksum, truncated archive, overlong name), and the DuckDB
  * closed-form oracles over q317–q319.
  *
  * Scale shape: shards build ONCE per corpus plan per JVM (the
  * `Multimodal.assetStore` path-cache pattern — one shuffle on shard id,
  * members streamed per partition, real `.tar` files on scratch disk);
  * every consumer is then a `binaryFile` scan of whole shards walked
  * per-partition — archive-proportional work, no driver-side loops, no
  * shuffle before the per-shard aggregate.
  */
object WebDataset {

  /** Images per shard. The id span of one shard is `3 * ShardAssets`
    * (the q35 image rotation occupies every third doc_id), so shard
    * membership is the pure arithmetic `doc_id div span` — closed-form
    * on both engines.
    */
  val ShardAssets = 16

  /** POSIX ustar writer/parser. Deterministic metadata (mode 0644,
    * uid/gid 0, mtime 0) so identical member bytes produce identical
    * archives on every run.
    */
  object TarCodec {
    val BlockSize = 512
    val RecordSize = 10240 // standard blocking factor (20 blocks)

    private def padTo(n: Int, unit: Int): Int = (n + unit - 1) / unit * unit

    /** Archive bytes a member contributes: header block + content
      * rounded up to a block.
      */
    def memberBlockBytes(contentLen: Int): Int =
      BlockSize + padTo(contentLen, BlockSize)

    /** Total archive size for member content lengths: members + the
      * 1024-byte end marker, padded to the blocking factor.
      */
    def archiveBytes(contentLens: Seq[Int]): Int =
      padTo(contentLens.map(memberBlockBytes).sum + 2 * BlockSize, RecordSize)

    def header(name: String, size: Long): Array[Byte] = {
      val nameBytes = name.getBytes("US-ASCII")
      require(nameBytes.length <= 100,
        s"tar member name exceeds the ustar 100-byte field: '$name'")
      require(size >= 0 && size <= 0x1FFFFFFFFFFL, // 11 octal digits
        s"tar member size $size outside the 11-digit octal field")
      val h = new Array[Byte](BlockSize)
      def put(off: Int, s: String): Unit = {
        val b = s.getBytes("US-ASCII")
        System.arraycopy(b, 0, h, off, b.length)
      }
      put(0, name)
      put(100, "0000644" + "\u0000") // mode
      put(108, "0000000" + "\u0000") // uid
      put(116, "0000000" + "\u0000") // gid
      put(124, f"$size%011o" + "\u0000") // size, 11 octal digits
      put(136, "00000000000" + "\u0000") // mtime 0
      java.util.Arrays.fill(h, 148, 156, ' '.toByte) // chksum spaces while summing
      h(156) = '0' // typeflag: regular file
      put(257, "ustar" + "\u0000") // magic
      put(263, "00") // version
      put(329, "0000000" + "\u0000") // devmajor
      put(337, "0000000" + "\u0000") // devminor
      val sum = h.map(_ & 0xff).sum
      put(148, f"$sum%06o" + "\u0000 ") // 6 octal digits, NUL, space
      h
    }

    /** One self-contained archive from ordered members. */
    def archive(members: Seq[(String, Array[Byte])]): Array[Byte] = {
      val out = new Array[Byte](archiveBytes(members.map(_._2.length)))
      var pos = 0
      for ((name, content) <- members) {
        System.arraycopy(header(name, content.length), 0, out, pos, BlockSize)
        pos += BlockSize
        System.arraycopy(content, 0, out, pos, content.length)
        pos += padTo(content.length, BlockSize)
      }
      out // the zero tail IS the end marker + blocking pad
    }

    /** Walk an archive to its members, VALIDATING each header: ustar
      * magic, the space-padded checksum (a single flipped byte fails
      * loudly), regular-file typeflag, and size fields bounded by the
      * buffer (Long arithmetic — the WavCodec RIFF discipline). Stops
      * at the first zero block; a truncated archive (no end marker
      * inside the buffer) fails loudly rather than returning a prefix.
      */
    def parse(bytes: Array[Byte]): Seq[(String, Array[Byte])] = {
      val out = Seq.newBuilder[(String, Array[Byte])]
      var pos = 0
      var ended = false
      while (!ended) {
        require(pos + BlockSize <= bytes.length,
          s"corrupt tar: no end-of-archive marker (walk reached $pos " +
            s"of ${bytes.length} bytes)")
        if (bytes(pos) == 0) {
          // end marker: the spec's two zero blocks must both fit
          require(pos + 2 * BlockSize <= bytes.length &&
            (pos until pos + 2 * BlockSize).forall(bytes(_) == 0),
            s"corrupt tar: nonzero bytes inside the end-of-archive marker at $pos")
          ended = true
        } else {
          require(new String(bytes, pos + 257, 5, "US-ASCII") == "ustar",
            s"corrupt tar: missing ustar magic at offset $pos")
          val stored = octal(bytes, pos + 148, 8)
          var sum = 0L
          var i = 0
          while (i < BlockSize) {
            sum += (if (i >= 148 && i < 156) ' '.toInt
                    else bytes(pos + i) & 0xff)
            i += 1
          }
          require(sum == stored,
            s"corrupt tar: header checksum at offset $pos is $sum, stored $stored")
          require(bytes(pos + 156) == '0' || bytes(pos + 156) == 0,
            s"unsupported tar typeflag '${bytes(pos + 156).toChar}' at offset $pos")
          val size = octal(bytes, pos + 124, 12)
          require(size >= 0 && pos.toLong + BlockSize + size <= bytes.length,
            s"corrupt tar: member at $pos declares $size bytes in a " +
              s"${bytes.length}-byte archive")
          var end = 0
          while (end < 100 && bytes(pos + end) != 0) end += 1
          val name = new String(bytes, pos, end, "US-ASCII")
          val content = java.util.Arrays.copyOfRange(bytes,
            pos + BlockSize, pos + BlockSize + size.toInt)
          out += ((name, content))
          pos += memberBlockBytes(size.toInt)
        }
      }
      out.result()
    }

    private def octal(bytes: Array[Byte], off: Int, len: Int): Long = {
      var v = 0L
      var i = off
      val end = off + len
      while (i < end && bytes(i) != 0 && bytes(i) != ' ') {
        require(bytes(i) >= '0' && bytes(i) <= '7',
          s"corrupt tar: non-octal byte ${bytes(i)} in numeric field at $off")
        v = v * 8 + (bytes(i) - '0')
        i += 1
      }
      v
    }
  }

  /** Sidecar JSON for an image asset — fixed field order so the byte
    * length is the closed form 17 + digits(id) + digits(w) + digits(h).
    */
  def sidecar(id: Long): String = {
    val w = Multimodal.BmpCodec.width(id)
    val h = Multimodal.BmpCodec.height(id)
    s"""{"id":$id,"w":$w,"h":$h}"""
  }

  // JVM-scoped, not a SessionArtifacts kind: the shard files outlive a session
  private val shardDirs =
    new java.util.concurrent.ConcurrentHashMap[LogicalPlan, String]()

  /** Build (once per corpus plan per JVM) and serve the shard directory:
    * real `.tar` files named `shard-<id>.tar`, each holding the image
    * rotation's `<doc_id>.bmp` + `<doc_id>.json` members for one
    * contiguous id span, samples ordered by id with the image before its
    * sidecar. One shuffle on shard id co-locates each shard's members;
    * files stream out per partition (the compactionExecute write shape;
    * on a cluster the directory must be shared storage).
    */
  def shardDir(documents: DataFrame): String = {
    val spark = documents.sparkSession
    val ids = documents.select($"doc_id")
    val plan = ids.queryExecution.analyzed.canonicalized
    shardDirs.computeIfAbsent(plan, _ => {
      import spark.implicits.{newLongEncoder, newProductEncoder}
      val dir = graft.sources.Scratch.dir("graft_wds")
      val span = 3L * ShardAssets
      ids.filter($"doc_id" % 3 === 0) // the q35 image rotation
        // integer div, not double-divide-then-cast: engine-exact at any id
        .select(expr(s"doc_id div ${span}L").as("shard"), $"doc_id")
        .repartition($"shard") // every shard lands whole on one task
        .sortWithinPartitions($"shard", $"doc_id")
        .as[(Long, Long)]
        .mapPartitions { it =>
          var cur = Long.MinValue
          val members = Seq.newBuilder[(String, Array[Byte])]
          val done = Seq.newBuilder[(Long, Int)]
          def flush(): Unit = if (cur != Long.MinValue) {
            val m = members.result()
            java.nio.file.Files.write(
              java.nio.file.Paths.get(dir, f"shard-$cur%06d.tar"),
              TarCodec.archive(m))
            done += ((cur, m.length))
            members.clear()
          }
          it.foreach { case (shard, id) =>
            if (shard != cur) { flush(); cur = shard }
            members += ((s"$id.bmp", Multimodal.BmpCodec.encode(id)))
            members += ((s"$id.json", sidecar(id).getBytes("US-ASCII")))
          }
          flush()
          done.result().iterator
        }
        .toDF("shard", "n_members")
        .foreach((_: org.apache.spark.sql.Row) => ()) // materialize the writes
      dir
    })
  }

  /** The shard SOURCE: binaryFile scan of whole archives, walked to one
    * row per member per shard — `(shard_id, archive_bytes, member_name,
    * member_bytes)`. Whole-archive reads are the format's contract
    * (shards are the unit of sequential I/O); the walk runs batched per
    * partition like every codec here.
    */
  def tarMembers(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits.newProductEncoder
    val dir = shardDir(documents)
    spark.read.format("binaryFile").load(dir)
      .select(
        regexp_extract(element_at(split($"path", "/"), -1),
          "^shard-(\\d+)\\.tar$", 1).cast("long").as("shard_id"),
        $"length".as("archive_bytes"), $"content")
      .as[(Long, Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (shard, alen, bytes) =>
        TarCodec.parse(bytes).map { case (name, content) =>
          (shard, alen, name, content)
        }
      })
      .toDF("shard_id", "archive_bytes", "member_name", "member_bytes")
  }

  /** q317 — shard inventory: per shard, member counts by extension,
    * total content bytes, and the on-disk archive size (filesystem
    * evidence via binaryFile `length`) — the manifest a WebDataset
    * loader builds before training. Every number flows from the REAL
    * tar walk; the oracle recomputes all of it from the generation
    * closed forms (BMP size arithmetic, sidecar digit lengths, ustar
    * block rounding) without touching a byte.
    */
  def tarInventory(documents: DataFrame): DataFrame = {
    tarMembers(documents)
      .select($"shard_id", $"archive_bytes", $"member_name",
        length($"member_bytes").cast("long").as("mb"))
      .groupBy($"shard_id")
      .agg(count(lit(1)).as("n_members"),
        count(when($"member_name".endsWith(".bmp"), 1)).as("n_bmp"),
        count(when($"member_name".endsWith(".json"), 1)).as("n_json"),
        sum($"mb").as("member_bytes"),
        max($"archive_bytes").as("archive_bytes"))
      .orderBy($"shard_id")
  }

  /** q318 — decode THROUGH the container: every `.bmp` member's pixel
    * features (the q244 moment sums) computed from bytes that traveled
    * shard-build → tar header walk → member slice → codec, rolled up
    * per shard. A single misplaced offset anywhere in the container
    * path breaks the position-weighted sums.
    */
  def tarDecodeFeatures(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits.newProductEncoder
    tarMembers(documents)
      .filter($"member_name".endsWith(".bmp"))
      .select($"shard_id", $"member_bytes")
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (shard, bytes) =>
        val (w, h, rs, gs, bs, rw) = Multimodal.BmpCodec.decode(bytes)
        (shard, w.toLong, h.toLong, rs, gs, bs, rw)
      })
      .toDF("shard_id", "w", "h", "rs", "gs", "bs", "rw")
      .groupBy($"shard_id")
      .agg(count(lit(1)).as("n_assets"),
        min($"w").as("min_width"), max($"h").as("max_height"),
        sum($"rs").as("r_sum"), sum($"gs").as("g_sum"),
        sum($"bs").as("b_sum"), sum($"rw").as("rw_sum"))
      .orderBy($"shard_id")
  }

  /** q319 — container integrity: per shard, the sample pairing and
    * cross-modal consistency a loader validates before trusting a lake
    * of shards. Sidecar members parse through Spark's real JSON
    * machinery (`from_json`); their (w, h) must match the dimensions
    * decoded from the PAIRED `.bmp` member's header; structural
    * accounting recomputes the ustar padding from parsed member sizes
    * against the filesystem archive length. All hash-gated: a stale or
    * swapped sidecar flips `n_dim_match`, a blocking bug flips
    * `padding_bytes`.
    */
  def tarIntegrity(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits.newProductEncoder
    val members = tarMembers(documents)
    val bmp = members.filter($"member_name".endsWith(".bmp"))
      .select($"shard_id", $"archive_bytes",
        regexp_extract($"member_name", "^(\\d+)\\.bmp$", 1).cast("long").as("id"),
        $"member_bytes")
      .as[(Long, Long, Long, Array[Byte])]
      .mapPartitions(_.map { case (shard, alen, id, bytes) =>
        val (w, h, _, _, _, _) = Multimodal.BmpCodec.decode(bytes)
        (shard, alen, id, w, h, bytes.length)
      })
      .toDF("shard_id", "archive_bytes", "id", "bmp_w", "bmp_h", "bmp_len")
    val side = members.filter($"member_name".endsWith(".json"))
      .select($"shard_id",
        regexp_extract($"member_name", "^(\\d+)\\.json$", 1).cast("long").as("id"),
        from_json($"member_bytes".cast("string"),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("w",
              org.apache.spark.sql.types.IntegerType),
            org.apache.spark.sql.types.StructField("h",
              org.apache.spark.sql.types.IntegerType)))).as("j"),
        length($"member_bytes").cast("long").as("json_len"))
      .select($"shard_id", $"id", $"j.id".as("json_id"), $"j.w".as("json_w"),
        $"j.h".as("json_h"), $"json_len")
    bmp.join(side, Seq("shard_id", "id"))
      .groupBy($"shard_id")
      .agg(count(lit(1)).as("n_samples"),
        count(when($"json_w" === $"bmp_w" && $"json_h" === $"bmp_h" &&
          $"json_id" === $"id", 1)).as("n_dim_match"),
        max($"archive_bytes").as("archive_bytes"),
        // ustar structural accounting from PARSED sizes: header+content
        // blocks per member pair, the 1024-byte end marker, and the
        // blocking pad the archive length must close exactly
        (max($"archive_bytes") - lit(1024L)
          - sum(lit(1024L) + expr("(bmp_len + 511) div 512 * 512")
            + expr("(json_len + 511) div 512 * 512"))).as("padding_bytes"))
      .orderBy($"shard_id")
  }
}
