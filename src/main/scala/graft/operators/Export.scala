package graft.operators

import org.apache.spark.sql.DataFrame

/** CSV export sink (SURVEY.md §2.1 S6; reference `/root/reference/src/
  * export.py`, `scripts/random_plays_sampler.py:96-99`): canonical 4-key
  * sort, single header CSV for small sampled batches (a single-file dump
  * of a 100 TB result would serialize through one task — only coalesce
  * when the result is sample-sized).
  */
object Export {

  def sortedCanonical(df: DataFrame): DataFrame = {
    val want = Seq("gameId", "playId", "frameId", "nflId")
      .filter(df.columns.contains)
    if (want.isEmpty) df else df.orderBy(want.map(df.col): _*)
  }

  /** Small sampled batch → one CSV file with header. */
  def csvSingle(df: DataFrame, path: String): Unit =
    sortedCanonical(df).coalesce(1)
      .write.option("header", "true").mode("overwrite").csv(path)

  /** JSON-Lines export — the interchange format LLM training pipelines
    * consume (one JSON object per line). Sharded by default: each task
    * writes its partition, so a 100 TB result streams out in parallel;
    * pass `shards` to bound the file count for small batches (a
    * repartition, not a coalesce — coalesce(k) would also collapse the
    * UPSTREAM computation to k tasks).
    */
  def jsonl(df: DataFrame, path: String, shards: Int = 0): Unit = {
    val out = if (shards > 0) df.repartition(shards) else df
    out.write.mode("overwrite").json(path)
  }

  /** WebDataset-style tar shard export — the sequential-read training
    * layout (Aizman et al.; one `.tar` per shard, one `{name}.{ext}`
    * entry per example, consumed by streaming loaders without random
    * I/O). `df` must carry a shard id column (compose with
    * `Relational.globalShuffle` / `tokenShards`, whose shard
    * assignment IS the reproducible training order); rows repartition
    * by shard and sort by (shard, name) within partitions, so each
    * executor streams its shards' tars sequentially and entry order is
    * deterministic. Headers are POSIX ustar with mtime pinned to 0 —
    * byte-identical re-runs, so shards are content-addressable.
    *
    * Writes `shard-NNNNN.tar` under `dir` through the Hadoop
    * `FileSystem` API, so `dir` may be a local path, a `file:` URI, or
    * any object-store scheme the cluster's Hadoop conf knows
    * (s3a/gs/abfs…) — the session's `hadoopConfiguration` entries ride
    * to the executors, so credentials configured via `spark.hadoop.*`
    * apply. Local checksum sidecars (`.shard-NNNNN.tar.crc`) are
    * disabled so the output directory holds exactly the tars. Output
    * bytes are identical to any previous local-file writer (pinned by
    * the determinism/GNU-tar interop tests).
    */
  def tarShards(df: DataFrame, dir: String, shardCol: String,
      nameCol: String, payloadCol: String, ext: String = "txt"): Unit = {
    import org.apache.spark.sql.functions.col
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    import scala.jdk.CollectionConverters._
    val hconf = df.sparkSession.sparkContext.hadoopConfiguration
    // Configuration is not serializable — ship its entries
    val confEntries: Seq[(String, String)] =
      hconf.iterator().asScala.map(e => (e.getKey, e.getValue)).toVector
    val driverFs = new Path(dir).getFileSystem(hconf)
    driverFs.mkdirs(new Path(dir))
    df.select(col(shardCol).cast("long").as("_s"),
        col(nameCol).cast("string").as("_n"),
        col(payloadCol).cast("binary").as("_p")) // string → UTF-8 bytes;
      .repartition(col("_s"))                    // binary passes through
      .sortWithinPartitions(col("_s"), col("_n"))
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        val conf = new Configuration(false)
        confEntries.foreach { case (k, v) => conf.set(k, v) }
        val base = new Path(dir)
        // a PRIVATE FileSystem instance: getFileSystem returns the
        // JVM-wide cached one (keyed by scheme+authority, NOT conf),
        // and setWriteChecksum on it would silently disable .crc
        // sidecars for every other local-FS writer in this executor
        val fs = org.apache.hadoop.fs.FileSystem
          .newInstance(base.toUri, conf)
        try {
          // LocalFileSystem would otherwise write .crc sidecars
          try fs.setWriteChecksum(false)
          catch { case _: UnsupportedOperationException => () }
          var cur: Long = Long.MinValue
          var out: java.io.OutputStream = null
          def close(): Unit = if (out != null) {
            out.write(new Array[Byte](1024)) // two zero end blocks
            out.close(); out = null
          }
          rows.foreach { r =>
            val s = r.getLong(0)
            if (s != cur || out == null) {
              close(); cur = s
              out = new java.io.BufferedOutputStream(
                fs.create(new Path(base, f"shard-$s%05d.tar"), true))
            }
            val bytes = r.getAs[Array[Byte]](2)
            out.write(TarFormat.header(s"${r.getString(1)}.$ext",
              bytes.length))
            out.write(bytes)
            val pad = (512 - bytes.length % 512) % 512
            if (pad > 0) out.write(new Array[Byte](pad))
          }
          close()
        } finally fs.close()
      }
  }

  /** Read WebDataset-style tar shards back into a DataFrame —
    * `(shard_file, name, payload: binary)`, one row per entry. Rides
    * Spark's `binaryFile` source, so shards split across executors by
    * FILE (the WebDataset contract: a shard is the unit of sequential
    * I/O) and the glob/pushdown machinery comes free. Parsing is
    * [[TarFormat.read]] per file inside the scan stage.
    */
  def readTarShards(spark: org.apache.spark.sql.SparkSession,
      glob: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, explode, udf}
    val parse = udf { (bytes: Array[Byte]) =>
      TarFormat.read(new java.io.ByteArrayInputStream(bytes))
        .map { case (n, p) => (n, p) }
    }
    spark.read.format("binaryFile").load(glob)
      .select(col("path").as("shard_file"),
        explode(parse(col("content"))).as("_e"))
      .select(col("shard_file"), col("_e._1").as("name"),
        col("_e._2").as("payload"))
  }
}

/** Minimal POSIX ustar writer/reader — enough for WebDataset text
  * shards, pure JVM (the JDK ships zip but not tar). Public format:
  * 512-byte header (name, octal size/mode/mtime, checksum over the
  * header with the checksum field spaced out, magic "ustar"), payload
  * padded to 512, two zero blocks at end.
  */
object TarFormat {

  def header(name: String, size: Int): Array[Byte] = {
    require(name.getBytes("UTF-8").length <= 100, s"tar name too long: $name")
    val h = new Array[Byte](512)
    def put(off: Int, s: String): Unit = {
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      System.arraycopy(b, 0, h, off, b.length)
    }
    put(0, name)
    put(100, "0000644\u0000")            // mode
    put(108, "0000000\u0000")            // uid
    put(116, "0000000\u0000")            // gid
    put(124, f"$size%011o" + "\u0000")   // size, octal
    put(136, "00000000000\u0000")        // mtime pinned to epoch
    java.util.Arrays.fill(h, 148, 156, ' '.toByte) // chksum spaces
    h(156) = '0'                         // typeflag: regular file
    put(257, "ustar\u0000")              // magic
    put(263, "00")                       // version
    val sum = h.map(b => b & 0xff).sum
    put(148, f"$sum%06o" + "\u0000 ")
    h
  }

  /** Parse a tar stream into (name, payload) entries (for round-trip
    * tests and small reads — not a distributed source).
    */
  def read(in: java.io.InputStream): Seq[(String, Array[Byte])] = {
    val entries = scala.collection.mutable.ArrayBuffer
      .empty[(String, Array[Byte])]
    val h = new Array[Byte](512)
    def readFully(buf: Array[Byte]): Boolean = {
      var off = 0
      while (off < buf.length) {
        val n = in.read(buf, off, buf.length - off)
        if (n < 0) return false
        off += n
      }
      true
    }
    while (readFully(h) && h.exists(_ != 0)) {
      val name = new String(h.take(100).takeWhile(_ != 0), "UTF-8")
      val size = java.lang.Long.parseLong(
        new String(h.slice(124, 135), "US-ASCII").trim, 8).toInt
      val expect = {
        val c = h.clone()
        java.util.Arrays.fill(c, 148, 156, ' '.toByte)
        c.map(b => b & 0xff).sum
      }
      val stated = java.lang.Integer.parseInt(
        new String(h.slice(148, 154), "US-ASCII").trim, 8)
      require(stated == expect, s"tar checksum mismatch for $name")
      val payload = new Array[Byte](size)
      require(readFully(payload), s"truncated tar payload for $name")
      entries += ((name, payload))
      val pad = (512 - size % 512) % 512
      if (pad > 0) { val skip = new Array[Byte](pad); readFully(skip) }
    }
    entries.toSeq
  }
}
