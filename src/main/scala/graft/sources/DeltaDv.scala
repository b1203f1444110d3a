package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.hadoop.fs.{FileSystem, Path}
import TableFs.mkdirs

/** Codec for Delta Lake's public DELETION VECTOR on-disk format — the
  * piece that lets [[ManifestTable.convertDelta]] translate DV-carrying
  * Delta tables into graft DV sidecars instead of refusing them (DVs are
  * default-on in modern Delta writers, so the refusal excluded exactly
  * the tables most worth migrating).
  *
  * Everything here is the format the Delta PROTOCOL.md specifies:
  *  - descriptors name their payload via `storageType`: `"i"` carries the
  *    serialized bitmap INLINE (Base85), `"u"` a table-relative file
  *    derived from a Base85-encoded UUID (`<prefix>/deletion_vector_
  *    <uuid>.bin`), `"p"` an absolute path;
  *  - Base85 uses the RFC 1924 alphabet, 4 bytes per 5 chars, big-endian
  *    group value, zero-padded to a 4-byte multiple (the descriptor's
  *    `sizeInBytes` recovers the true length);
  *  - a DV FILE opens with a 1-byte format version (1), then each vector
  *    at its descriptor `offset` as `<int32 BE size><data><int32 BE
  *    CRC-32 of data>`;
  *  - the data blob is a 64-bit "roaring bitmap array" in the PORTABLE
  *    serialization: little-endian magic 1681511377, an int64 count of
  *    non-empty 32-bit bitmaps, then per bitmap its int32 key (the high
  *    32 bits of the member values, strictly increasing) followed by the
  *    standard portable RoaringBitmap serialization.
  *
  * Honesty discipline: every read path cross-checks what the format
  * carries redundantly — framed size vs descriptor `sizeInBytes`, CRC-32,
  * decoded cardinality vs descriptor `cardinality` (checked by the
  * caller) — so a codec drift FAILS the conversion loudly instead of
  * committing a wrong live row set. The NATIVE serialization magic
  * (1681511376) refuses by name: only writers are specced to prefer
  * portable, so a native-format lake must purge or rewrite first.
  */
private[graft] object DeltaDv {

  /** One descriptor, as `add.deletionVector` carries it. */
  final case class Desc(storageType: String, pathOrInlineDv: String,
                        offset: Long, sizeInBytes: Int, cardinality: Long)

  // ---------------------------------------------------------- Base85

  /** RFC 1924's 85-character alphabet (the variant Delta's codec uses —
    * NOT Ascii85/Z85, which order their symbols differently). */
  private val Alphabet: Array[Char] =
    ("0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ" +
      "abcdefghijklmnopqrstuvwxyz!#$%&()*+-;<=>?@^_`{|}~").toCharArray
  private val Decode: Array[Int] = {
    val a = Array.fill(128)(-1)
    Alphabet.zipWithIndex.foreach { case (c, i) => a(c) = i }
    a
  }

  /** Encode a 4-byte-multiple buffer (callers zero-pad; the descriptor's
    * size field recovers the true length on decode). */
  def encode85(bytes: Array[Byte]): String = {
    require(bytes.length % 4 == 0,
      s"base85 input must be a 4-byte multiple, got ${bytes.length}")
    val sb = new java.lang.StringBuilder(bytes.length / 4 * 5)
    var i = 0
    while (i < bytes.length) {
      var v = ((bytes(i) & 0xffL) << 24) | ((bytes(i + 1) & 0xffL) << 16) |
        ((bytes(i + 2) & 0xffL) << 8) | (bytes(i + 3) & 0xffL)
      val block = new Array[Char](5)
      var j = 4
      while (j >= 0) { block(j) = Alphabet((v % 85).toInt); v /= 85; j -= 1 }
      sb.append(block)
      i += 4
    }
    sb.toString
  }

  /** Decode to exactly `outLen` bytes (the padded tail must be zero). */
  def decode85(s: String, outLen: Int): Array[Byte] = {
    require(s.length % 5 == 0,
      s"base85 text must be a 5-char multiple, got ${s.length}")
    val full = new Array[Byte](s.length / 5 * 4)
    require(outLen >= 0 && outLen <= full.length,
      s"base85: $outLen bytes cannot come from ${s.length} chars")
    var i = 0
    var o = 0
    while (i < s.length) {
      var v = 0L
      var j = 0
      while (j < 5) {
        val c = s.charAt(i + j)
        val d = if (c < 128) Decode(c) else -1
        require(d >= 0, s"illegal base85 character '$c'")
        v = v * 85 + d
        j += 1
      }
      require(v <= 0xffffffffL, s"base85 group overflows 32 bits: '${s.substring(i, i + 5)}'")
      full(o) = ((v >>> 24) & 0xff).toByte
      full(o + 1) = ((v >>> 16) & 0xff).toByte
      full(o + 2) = ((v >>> 8) & 0xff).toByte
      full(o + 3) = (v & 0xff).toByte
      i += 5
      o += 4
    }
    var t = outLen
    while (t < full.length) {
      require(full(t) == 0, "base85: nonzero bytes past the declared length")
      t += 1
    }
    java.util.Arrays.copyOf(full, outLen)
  }

  def encodeUUID(uuid: java.util.UUID): String = {
    val buf = ByteBuffer.allocate(16)
    buf.putLong(uuid.getMostSignificantBits)
    buf.putLong(uuid.getLeastSignificantBits)
    encode85(buf.array())
  }

  def decodeUUID(encoded: String): java.util.UUID = {
    require(encoded.length == 20, s"a base85 UUID is 20 chars, got ${encoded.length}")
    val buf = ByteBuffer.wrap(decode85(encoded, 16))
    new java.util.UUID(buf.getLong, buf.getLong)
  }

  /** A `storageType="u"` payload → the DV file's table-relative path:
    * the LAST 20 chars are the Base85 UUID, anything before them is an
    * optional directory prefix. */
  def relativePathOf(pathOrInlineDv: String): String = {
    require(pathOrInlineDv.length >= 20,
      s"storageType=u payload shorter than a base85 UUID: '$pathOrInlineDv'")
    val prefix = pathOrInlineDv.dropRight(20)
    val name = s"deletion_vector_${decodeUUID(pathOrInlineDv.takeRight(20))}.bin"
    if (prefix.isEmpty) name else s"$prefix/$name"
  }

  // ------------------------------------------- roaring bitmap array

  val PortableMagic = 1681511377
  private val NativeMagic = 1681511376
  val FileFormatVersion: Byte = 1

  /** Serialize positions as a portable-format 64-bit bitmap array. */
  def serializeBitmap(positions: Array[Long]): Array[Byte] = {
    positions.foreach(p => require(p >= 0 && (p >>> 32) <= Int.MaxValue,
      s"DV position out of the format's range: $p"))
    val byKey = positions.groupBy(p => (p >>> 32).toInt)
    val keys = byKey.keys.toArray.sorted
    val bitmaps = keys.map { k =>
      val bm = new org.roaringbitmap.RoaringBitmap()
      byKey(k).foreach(p => bm.add((p & 0xffffffffL).toInt))
      bm.runOptimize()
      bm
    }
    val size = 4 + 8 + bitmaps.map(4 + _.serializedSizeInBytes()).sum
    val buf = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(PortableMagic)
    buf.putLong(keys.length.toLong)
    keys.zip(bitmaps).foreach { case (k, bm) =>
      buf.putInt(k)
      bm.serialize(buf)
    }
    require(buf.remaining() == 0, "bitmap serialization size accounting drifted")
    buf.array()
  }

  /** Deserialize a portable-format blob to its member positions
    * (ascending). Refuses the native magic and malformed key order —
    * never guesses. */
  def positionsOf(data: Array[Byte]): Array[Long] = {
    val buf = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    require(buf.remaining() >= 12, s"DV blob too short: ${data.length} bytes")
    val magic = buf.getInt
    require(magic != NativeMagic,
      "DV uses the NATIVE bitmap serialization — only the portable " +
        "format converts; rewrite the DVs in Delta first")
    require(magic == PortableMagic,
      s"unrecognized DV bitmap magic $magic (portable is $PortableMagic)")
    val n = buf.getLong
    require(n >= 0 && n <= Int.MaxValue, s"implausible bitmap count $n")
    val out = Array.newBuilder[Long]
    var last = -1L
    var i = 0L
    while (i < n) {
      val key = buf.getInt
      require(key >= 0 && key > last, s"bitmap keys must strictly increase, got $key after $last")
      last = key
      val bm = new org.roaringbitmap.RoaringBitmap()
      bm.deserialize(buf)
      // RoaringBitmap.deserialize(ByteBuffer) reads without advancing —
      // step over the consumed bytes explicitly (the same discipline the
      // format's reference reader applies)
      buf.position(buf.position() + bm.serializedSizeInBytes())
      val it = bm.getIntIterator
      while (it.hasNext) {
        out += (key.toLong << 32) | (it.next() & 0xffffffffL)
      }
      i += 1
    }
    out.result()
  }

  // --------------------------------------------------------- file IO

  /** Write a DV file (1-byte format version, then each blob framed as
    * size/data/CRC); returns each blob's (offset, sizeInBytes) exactly as
    * its descriptor must carry them. */
  def writeDvFile(f: FileSystem, p: Path, blobs: Seq[Array[Byte]]): Seq[(Long, Int)] = {
    mkdirs(f, p.getParent)
    val dos = new java.io.DataOutputStream(f.create(p, true))
    try {
      dos.writeByte(FileFormatVersion.toInt)
      var offset = 1L
      blobs.map { b =>
        val crc = new java.util.zip.CRC32()
        crc.update(b)
        dos.writeInt(b.length)
        dos.write(b)
        dos.writeInt(crc.getValue.toInt)
        val at = (offset, b.length)
        offset += 4L + b.length + 4L
        at
      }
    } finally dos.close()
  }

  /** Read one framed blob, verifying BOTH redundant channels (framed
    * size vs descriptor size, CRC-32) — a misread offset or codec drift
    * must fail the conversion, never feed it wrong positions. */
  def readBlob(f: FileSystem, p: Path, offset: Long, sizeInBytes: Int): Array[Byte] = {
    val in = f.open(p)
    try {
      in.seek(offset)
      val din = new java.io.DataInputStream(in)
      val size = din.readInt()
      require(size == sizeInBytes,
        s"DV size mismatch at $p offset $offset: file frames $size bytes, " +
          s"descriptor says $sizeInBytes")
      val data = new Array[Byte](size)
      din.readFully(data)
      val crc = new java.util.zip.CRC32()
      crc.update(data)
      val expected = din.readInt()
      require(expected == crc.getValue.toInt,
        s"DV checksum mismatch at $p offset $offset")
      data
    } finally in.close()
  }

  /** Positions of one descriptor, resolved against the table root —
    * runs INSIDE tasks (the decode distributes over files-with-DVs). */
  def positionsOf(desc: Desc, tableRoot: String,
                  conf: org.apache.hadoop.conf.Configuration): Array[Long] = {
    val data = desc.storageType match {
      case "i" => decode85(desc.pathOrInlineDv, desc.sizeInBytes)
      case "u" =>
        val p = new Path(tableRoot, relativePathOf(desc.pathOrInlineDv))
        readBlob(p.getFileSystem(conf), p, desc.offset, desc.sizeInBytes)
      case "p" =>
        val p = new Path(desc.pathOrInlineDv)
        readBlob(p.getFileSystem(conf), p, desc.offset, desc.sizeInBytes)
      case other => sys.error(
        s"unsupported DV storageType '$other' (expected i, u, or p)")
    }
    positionsOf(data)
  }
}
