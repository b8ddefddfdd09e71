package graft.sources

/** Minimal pure-JVM HDF5 *writer* for the same netcdf-c subset
  * [[Hdf5Reader]] reads — the output side of the reference (the
  * reference's product is a NetCDF file written through the netCDF4 C
  * library, /root/reference/ncagg/aggregator.py:239-359). Implemented
  * from the public HDF5 File Format Specification (version 3), like the
  * reader; no native library, no copied code.
  *
  * Emits the classic on-disk shapes netcdf-c itself produces by default:
  *   - superblock v0 (no checksums anywhere in the v0/v1 structures)
  *   - v1 object headers with inline (v1) attribute messages
  *   - old-style root group: v1 B-tree + SNOD + local heap
  *   - contiguous layout for fixed-shape datasets; v1-B-tree chunked
  *     layout for datasets over the unlimited dimension (HDF5 requires
  *     chunking for extendible datasets) — multi-chunk with a
  *     caller-chosen record count per chunk (the reference's
  *     `-c udim:chunksize`, cli.py:207-218 → aggregator.py:391-398),
  *     multi-level B-trees past 32 entries per node
  *   - filters: byte-shuffle, deflate (zlib, `java.util.zip`) and
  *     fletcher32 chunk checksums, declared through a v1 filter-pipeline
  *     message in netcdf-c's order (shuffle → deflate → fletcher32)
  *   - fixed-point / IEEE float / fixed-string datatypes
  *   - vlen-of-object-reference attributes (netCDF `DIMENSION_LIST`)
  *     through a global heap collection (GCOL)
  *
  * Not emitted (not needed for the reference's outputs): dense
  * attribute/link storage, v2+ object headers.
  *
  * I/O model: [[write]] STREAMS to the destination through a buffered
  * 64-bit file sink ([[FileOut]]) — the file is never held in memory and
  * output size is unbounded; back-references (superblock slots, OH
  * sizes, B-tree siblings, GCOL addresses) patch via positional writes.
  * [[StreamWriter]] exposes the same assembly incrementally: open a
  * chunk stream per chunked dataset and append chunks to them in any
  * interleaving (one chunk per dataset in memory at a time — the
  * reference's node-by-node streaming model, aggregator.py:239-359),
  * then `finish()` writes the metadata. The in-memory [[build]] remains
  * for byte-level tests.
  */
object Hdf5Writer {

  private val Undefined = -1L

  sealed trait WType { def size: Int }
  case object WF64 extends WType { val size = 8 }
  case object WF32 extends WType { val size = 4 }
  final case class WInt(size: Int, signed: Boolean = true) extends WType
  /** fixed-size NUL-padded string */
  final case class WStr(size: Int) extends WType
  /** compound (HDF5 datatype class 6, packed members in declaration
    * order — the netCDF user-defined compound type); members are the
    * scalar classes above. Data bytes are the packed member encodings
    * per element. */
  /** `v1 = true` emits the version-1 message layout (names padded to 8,
    * 32-byte member dim info) — what libhdf5/netcdf-c default-writes —
    * so the reader's v1 parse path round-trips under test; v3 is the
    * compact modern form. */
  final case class WCompound(members: Seq[(String, WType)],
      v1: Boolean = false) extends WType {
    require(members.nonEmpty, "compound needs at least one member")
    val size: Int = members.map(_._2.size).sum
  }
  /** enumeration (HDF5 datatype class 8): an integer base plus the
    * name→value member list; data bytes are base-integer encodings.
    * `v1 = true` emits the version-1 layout (names padded to 8) that
    * libhdf5 default-writes; v3 is the compact unpadded form. */
  final case class WEnum(base: WInt, labels: Seq[(String, Long)],
      v1: Boolean = false) extends WType {
    require(labels.nonEmpty, "enum needs at least one member")
    val size: Int = base.size
  }

  sealed trait WAttrVal
  final case class WStrAttr(v: String) extends WAttrVal
  final case class WLongAttr(v: Long, size: Int = 4) extends WAttrVal
  final case class WDoubleAttr(v: Double) extends WAttrVal
  final case class WFloatAttr(v: Float) extends WAttrVal
  /** netCDF `DIMENSION_LIST`: a vlen(object reference) array with one
    * element per dimension, each referencing that dimension-scale
    * dataset's object header through the global heap. */
  final case class WDimListAttr(dims: Seq[String]) extends WAttrVal

  /** One dataset to write. `data` is the raw little-endian row-major
    * element bytes (`shape.product * dtype.size` long); `None` leaves the
    * storage unallocated (reads back as zeros/fill — how netcdf-c leaves
    * never-written phony dimension scales) unless chunk payloads are fed
    * through [[StreamWriter.openChunked]]. `unlimited0` marks dimension
    * 0 as unlimited (maxdims entry unlimited + chunked layout). */
  final case class WDataset(
      name: String,
      shape: Seq[Long],
      dtype: WType,
      data: Option[Array[Byte]],
      attrs: Seq[(String, WAttrVal)],
      unlimited0: Boolean = false,
      /** append + declare a fletcher32 chunk checksum (chunked layout
        * only, i.e. requires `unlimited0`) */
      fletcher32: Boolean = false,
      /** records per chunk along dim 0 (chunked layout only); None = one
        * chunk spanning the whole current extent */
      chunkRows: Option[Int] = None,
      /** zlib deflate level 1-9 per chunk (chunked layout only) */
      deflate: Option[Int] = None,
      /** szip (H5Z_FILTER_SZIP, id 4) per chunk via [[Szip.encode]];
        * mutually exclusive with deflate (chunked layout only) */
      szip: Option[Szip.Params] = None,
      /** byte-shuffle before deflate (netcdf-c's usual companion filter:
        * groups the k-th byte of every element together so deflate sees
        * long runs; chunked layout only) */
      shuffle: Boolean = false)

  // ------------------------------------------------------------------ out

  /** Append-mostly output sink with 64-bit positions and positional
    * patching of already-written slots. */
  private[sources] sealed trait Out {
    def pos: Long
    def u8(v: Int): Unit
    def bytes(b: Array[Byte]): Unit
    def zeros(n: Int): Unit
    def patchBytes(at: Long, b: Array[Byte]): Unit
    def close(): Unit = ()

    final def u16(v: Int): Unit = { u8(v & 0xff); u8((v >> 8) & 0xff) }
    final def u32(v: Long): Unit = {
      u16((v & 0xffff).toInt); u16(((v >> 16) & 0xffff).toInt)
    }
    final def u64(v: Long): Unit = {
      u32(v & 0xffffffffL); u32((v >>> 32) & 0xffffffffL)
    }
    final def align8(): Unit =
      if (pos % 8 != 0) zeros((8 - pos % 8).toInt)
    // each patch builds ONE byte array -> one positional write on the
    // file sink (a decomposed patch64 would cost 4 pwrite syscalls)
    final def patch16(at: Long, v: Int): Unit =
      patchBytes(at, Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte))
    final def patch32(at: Long, v: Long): Unit =
      patchBytes(at, Array.tabulate(4)(i => ((v >> (8 * i)) & 0xff).toByte))
    final def patch64(at: Long, v: Long): Unit =
      patchBytes(at, Array.tabulate(8)(i => ((v >> (8 * i)) & 0xff).toByte))
  }

  /** Growable in-memory sink (also the builder for small message
    * bodies). */
  private[sources] final class MemOut extends Out {
    private var a = new Array[Byte](1 << 16)
    private var p = 0
    def pos: Long = p.toLong
    private def ensure(n: Int): Unit =
      if (p + n > a.length) {
        var cap = a.length
        while (cap < p + n) cap *= 2
        a = java.util.Arrays.copyOf(a, cap)
      }
    def u8(v: Int): Unit = { ensure(1); a(p) = v.toByte; p += 1 }
    def bytes(b: Array[Byte]): Unit = {
      ensure(b.length)
      System.arraycopy(b, 0, a, p, b.length); p += b.length
    }
    def zeros(n: Int): Unit = { ensure(n); p += n } // array is zeroed
    def patchBytes(at: Long, b: Array[Byte]): Unit =
      System.arraycopy(b, 0, a, at.toInt, b.length)
    def result(): Array[Byte] = java.util.Arrays.copyOf(a, p)
  }

  /** Buffered file sink: sequential appends coalesce into 64 KiB channel
    * writes; a patch behind the buffer becomes one positional write. The
    * output file can exceed 2 GiB — nothing is held in memory beyond the
    * append buffer. */
  private[sources] final class FileOut(path: java.nio.file.Path) extends Out {
    private val ch = java.nio.channels.FileChannel.open(path,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE,
      java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
    private val buf = new Array[Byte](1 << 16)
    private var base = 0L // file offset of buf(0)
    private var len = 0
    def pos: Long = base + len
    private def writeFully(bb: java.nio.ByteBuffer, at: Long): Unit = {
      var p = at
      while (bb.hasRemaining) p += ch.write(bb, p)
    }
    private def flush(): Unit = if (len > 0) {
      writeFully(java.nio.ByteBuffer.wrap(buf, 0, len), base)
      base += len; len = 0
    }
    def u8(v: Int): Unit = {
      if (len == buf.length) flush()
      buf(len) = v.toByte; len += 1
    }
    def bytes(b: Array[Byte]): Unit = {
      var off = 0
      while (off < b.length) {
        if (len == buf.length) flush()
        val k = math.min(buf.length - len, b.length - off)
        System.arraycopy(b, off, buf, len, k); len += k; off += k
      }
    }
    def zeros(n: Int): Unit = {
      var left = n
      while (left > 0) {
        if (len == buf.length) flush()
        val k = math.min(buf.length - len, left)
        java.util.Arrays.fill(buf, len, len + k, 0.toByte)
        len += k; left -= k
      }
    }
    def patchBytes(at: Long, b: Array[Byte]): Unit =
      if (at >= base) // still in the append buffer
        System.arraycopy(b, 0, buf, (at - base).toInt, b.length)
      else if (at + b.length <= base)
        writeFully(java.nio.ByteBuffer.wrap(b), at)
      else { flush(); writeFully(java.nio.ByteBuffer.wrap(b), at) }
    override def close(): Unit = { flush(); ch.close() }
  }

  // ------------------------------------------------------- message bodies

  /** Datatype message bytes (v1 encoding; properties per the spec's
    * fixed-point / floating-point / string classes). */
  private def dtBytes(t: WType): Array[Byte] = {
    val b = new MemOut
    t match {
      case WInt(size, signed) =>
        b.u8(0x10); b.u8(if (signed) 0x08 else 0x00); b.u8(0); b.u8(0)
        b.u32(size)
        b.u16(0); b.u16(8 * size) // bit offset, precision
      case WF64 =>
        b.u8(0x11); b.u8(0x20); b.u8(63); b.u8(0) // LE, implied-msb, sign@63
        b.u32(8)
        b.u16(0); b.u16(64) // bit offset, precision
        b.u8(52); b.u8(11) // exponent location/size
        b.u8(0); b.u8(52) // mantissa location/size
        b.u32(1023) // exponent bias
      case WF32 =>
        b.u8(0x11); b.u8(0x20); b.u8(31); b.u8(0)
        b.u32(4)
        b.u16(0); b.u16(32)
        b.u8(23); b.u8(8)
        b.u8(0); b.u8(23)
        b.u32(127)
      case WStr(size) =>
        b.u8(0x13); b.u8(0x00); b.u8(0); b.u8(0) // NUL-terminated, ASCII
        b.u32(math.max(size, 1))
      case c @ WCompound(members, true) =>
        // version 1 compound: names NUL-terminated padded to 8; member
        // info = offset u32, dimensionality u8 (0: scalar), 3 reserved,
        // permutation u32, reserved u32, 4 x u32 dim sizes
        b.u8(0x16); b.u8(members.size & 0xff)
        b.u8((members.size >> 8) & 0xff); b.u8(0)
        b.u32(c.size)
        var moff1 = 0
        members.foreach { case (name, mt) =>
          val raw = name.getBytes("UTF-8")
          b.bytes(raw); b.u8(0)
          b.zeros((8 - (raw.length + 1) % 8) % 8)
          b.u32(moff1)
          b.u8(0); b.zeros(3) // scalar member: dimensionality 0
          b.u32(0); b.u32(0) // permutation, reserved
          (0 until 4).foreach(_ => b.u32(0))
          b.bytes(dtBytes(mt))
          moff1 += mt.size
        }
      case WEnum(base, labels, v1) =>
        // class 8: header (member count in bit-field bytes 0-1), the
        // complete base fixed-point message, names (v1: NUL + pad to 8;
        // v3: NUL only), then the values as base-size little-endian
        b.u8(if (v1) 0x18 else 0x38); b.u8(labels.size & 0xff)
        b.u8((labels.size >> 8) & 0xff); b.u8(0)
        b.u32(base.size)
        b.bytes(dtBytes(base))
        labels.foreach { case (name, _) =>
          val raw = name.getBytes("UTF-8")
          b.bytes(raw); b.u8(0)
          if (v1) b.zeros((8 - (raw.length + 1) % 8) % 8)
        }
        labels.foreach { case (_, v) =>
          var x = v
          (0 until base.size).foreach { _ =>
            b.u8((x & 0xff).toInt); x >>= 8
          }
        }
      case c @ WCompound(members, false) =>
        // version 3 compound (spec IV.A.2.d): member name NUL-terminated
        // unpadded, byte offset in the minimum bytes that hold the
        // compound size, then the member's own datatype message
        b.u8(0x36); b.u8(members.size & 0xff)
        b.u8((members.size >> 8) & 0xff); b.u8(0)
        b.u32(c.size)
        val offBytes = minBytesFor(c.size)
        var moff = 0
        members.foreach { case (name, mt) =>
          val raw = name.getBytes("UTF-8")
          b.bytes(raw); b.u8(0)
          var v = moff.toLong
          (0 until offBytes).foreach { _ => b.u8((v & 0xff).toInt); v >>= 8 }
          b.bytes(dtBytes(mt))
          moff += mt.size
        }
    }
    b.result()
  }

  /** Minimum bytes needed to represent values in [0, size]: the v3
    * compound member-offset width rule. */
  private def minBytesFor(size: Int): Int = {
    var nb = 1
    while (nb < 8 && (size.toLong >>> (8 * nb)) != 0) nb += 1
    nb
  }

  /** vlen(sequence) of object references — the `DIMENSION_LIST` type. */
  private def dtVlenRefBytes(): Array[Byte] = {
    val b = new MemOut
    b.u8(0x19); b.u8(0x00); b.u8(0); b.u8(0) // vlen, sequence
    b.u32(16) // in-file vlen datum: length(4) + gheap addr(8) + index(4)
    b.u8(0x17); b.u8(0x00); b.u8(0); b.u8(0) // base: object reference
    b.u32(8)
    b.result()
  }

  /** Dataspace message bytes, v1: rank 0 = scalar. */
  private def dsBytes(shape: Seq[Long], maxShape: Option[Seq[Long]])
      : Array[Byte] = {
    val b = new MemOut
    b.u8(1); b.u8(shape.length); b.u8(if (maxShape.isDefined) 1 else 0)
    b.zeros(5)
    shape.foreach(b.u64)
    maxShape.foreach(_.foreach(b.u64))
    b.result()
  }

  /** A pending global-heap object: payload + the absolute out position of
    * the 8-byte collection-address slot to patch once the GCOL lands. */
  private final class GHeap {
    val objs = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    val addrSlots = scala.collection.mutable.ArrayBuffer[Long]()
    /** Returns the 1-based heap object index. */
    def add(payload: Array[Byte]): Int = { objs += payload; objs.size }
  }

  // ------------------------------------------------------- chunk B-trees

  /** zlib-wrapped deflate of one chunk ([[Hdf5Reader]]'s `Inflater`
    * default format, and what the HDF5 deflate filter stores). */
  private def deflateBytes(in: Array[Byte], level: Int): Array[Byte] = {
    val d = new java.util.zip.Deflater(level)
    d.setInput(in); d.finish()
    val out = new java.io.ByteArrayOutputStream(math.max(64, in.length / 4))
    val tmp = new Array[Byte](65536)
    while (!d.finished()) out.write(tmp, 0, d.deflate(tmp))
    d.end()
    out.toByteArray
  }

  /** HDF5 shuffle filter, write direction: byte-transpose so the k-th
    * byte of every element lands together (the exact inverse of
    * [[Hdf5Reader]]'s unshuffle). */
  private def shuffleBytes(in: Array[Byte], es: Int): Array[Byte] =
    if (es <= 1 || in.length % es != 0) in
    else {
      val n = in.length / es
      val out = new Array[Byte](in.length)
      var j = 0
      while (j < es) {
        var i = 0
        while (i < n) { out(j * n + i) = in(i * es + j); i += 1 }
        j += 1
      }
      out
    }

  /** Entries per v1 B-tree node. 32 stays within the C library's default
    * indexed-storage K=32 (max 2K=64 entries/node), so external HDF5
    * readers accept the nodes. */
  private val BtNodeMax = 32

  /** Write the (possibly multi-level) v1 chunk B-tree for one dataset.
    * `entries` = (dim-0 offset in rows, stored byte size, chunk address)
    * in ascending offset order. Returns the root node address.
    *
    * v1 B-tree node (spec III.A.1): TREE, node type 1, level, entries
    * used, left/right sibling, then key0, child0, key1, ..., key_n.
    * A chunk key = stored size (u32), filter mask (u32), chunk offset
    * (u64 per dataset dim + one trailing element-dim 0). */
  private def writeChunkBtree(out: Out, rank: Int,
      entries: Seq[(Long, Int, Long)], shape: Seq[Long], cr: Long): Long = {
    // key = (stored size, dim-0 offset); inner-dim offsets are always 0
    // (chunks span the full inner extent)
    def putKey(size: Int, off: Long): Unit = {
      out.u32(size); out.u32(0) // size, filter mask
      out.u64(off)
      (1 until rank).foreach(_ => out.u64(0))
      out.u64(0) // element dim
    }
    val upperOff = // upper-bound key offset after the last chunk
      math.max(shape.headOption.getOrElse(0L),
        entries.lastOption.map(_._1 + cr).getOrElse(0L))
    /** One level: write nodes of up to [[BtNodeMax]] children, link
      * siblings, return (node addr, first-key size, first-key offset). */
    def writeLevel(level: Int, children: Seq[(Long, Int, Long)])
        : Seq[(Long, Int, Long)] = {
      val groups =
        if (children.isEmpty) Seq(Seq.empty[(Long, Int, Long)])
        else children.grouped(BtNodeMax).toSeq
      val addrs = groups.zipWithIndex.map { case (g, gi) =>
        out.align8()
        val addr = out.pos
        out.bytes("TREE".getBytes("US-ASCII"))
        out.u8(1) // node type 1: raw data chunks
        out.u8(level)
        out.u16(g.size)
        out.u64(Undefined); out.u64(Undefined) // siblings (patched below)
        g.foreach { case (off, size, child) =>
          putKey(size, off); out.u64(child)
        }
        // trailing key: first key of the next node's subtree, or the
        // upper bound past the last chunk (readers stop at nent; the C
        // library uses it for key-order checks only)
        val next = groups.lift(gi + 1).flatMap(_.headOption)
        putKey(next.map(_._2).getOrElse(0),
          next.map(_._1).getOrElse(upperOff))
        addr
      }
      // sibling links
      addrs.zipWithIndex.foreach { case (a, i) =>
        if (i > 0) out.patch64(a + 8, addrs(i - 1))
        if (i < addrs.size - 1) out.patch64(a + 16, addrs(i + 1))
      }
      addrs.zip(groups).map { case (a, g) =>
        (g.headOption.map(_._1).getOrElse(0L),
          g.headOption.map(_._2).getOrElse(0), a)
      }
    }
    var level = 0
    var nodes = writeLevel(0, entries)
    while (nodes.size > 1) {
      level += 1
      nodes = writeLevel(level, nodes)
    }
    nodes.head._3
  }

  /** One chunked dataset being fed INTERLEAVED with others: HDF5's
    * chunk B-tree records each chunk's file address, so chunks of
    * different datasets may alternate freely in the file — the
    * single-pass streamed `.nc` assembly appends one chunk per
    * variable per row window instead of one full column pass per
    * variable. Obtain via [[StreamWriter.openChunked]], feed with
    * [[StreamWriter.appendChunk]], finalize with
    * [[StreamWriter.closeChunked]] (B-tree + meta registration — close
    * dimension/coordinate datasets before the data variables that
    * reference them, the same ordering contract as the one-shot
    * paths). */
  final class ChunkStream private[Hdf5Writer] (
      private[Hdf5Writer] val ds: WDataset,
      private[Hdf5Writer] val cr: Long) {
    private[Hdf5Writer] val entries =
      scala.collection.mutable.ArrayBuffer[(Long, Int, Long)]()
    private[Hdf5Writer] var off = 0L
    private[Hdf5Writer] var closed = false
  }

  // --------------------------------------------------------- StreamWriter

  /** Incremental single-file assembly: construct over an [[Out]], feed
    * each dataset (whole-array via [[dataset]], or chunk-at-a-time via
    * [[openChunked]] — the streamed path holds ONE chunk in memory),
    * then [[finish]] writes object headers, the root group, and the
    * global heap, and patches the superblock. Dimension-scale datasets
    * must be fed before the variables whose `DIMENSION_LIST` references
    * them (same caller contract as before). */
  final class StreamWriter private[Hdf5Writer] (out: Out) {

    private val gheap = new GHeap
    private val ohAddr = scala.collection.mutable.LinkedHashMap[String, Long]()
    private val contAddr = scala.collection.mutable.Map[String, (Long, Long)]()
    private val chunkBt = scala.collection.mutable.Map[String, Long]()
    private val chunkRowsUsed = scala.collection.mutable.Map[String, Long]()
    private val metas = scala.collection.mutable.ArrayBuffer[WDataset]()
    private var finished = false

    // ---- superblock v0 (96 bytes incl. root symbol-table entry)
    out.bytes(Array(0x89, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n')
      .map(_.toByte))
    out.u8(0) // superblock v0
    out.u8(0); out.u8(0) // free space / root symbol table versions
    out.u8(0) // reserved
    out.u8(0) // shared header message version
    out.u8(8); out.u8(8) // size of offsets / lengths
    out.u8(0) // reserved
    // group leaf K must cover the single SNOD's entry count (<= 2K for
    // strict readers); the dataset count isn't known yet — patched in
    // finish() to max(4, n), the value the one-shot writer always used
    private val leafKSlot = out.pos
    out.u16(4) // group leaf K (patched)
    out.u16(16) // group internal K
    out.u32(0) // file consistency flags
    out.u64(0) // base address
    out.u64(Undefined) // free-space info
    private val eofSlot = out.pos; out.u64(0) // end-of-file (patched)
    out.u64(Undefined) // driver info block
    // root group symbol table entry
    out.u64(0) // link name offset
    private val rootOhSlot = out.pos; out.u64(0) // root OH addr (patched)
    out.u32(0); out.u32(0) // cache type, reserved
    out.zeros(16) // scratch

    private def validate(ds: WDataset): Unit = {
      require(!finished, "StreamWriter already finished")
      require(!metas.exists(_.name == ds.name),
        s"duplicate dataset name ${ds.name}")
      val n = ds.shape.product max (if (ds.shape.isEmpty) 1L else 0L)
      ds.data.foreach(d => require(d.length == n * ds.dtype.size,
        s"${ds.name}: ${d.length} data bytes for shape ${ds.shape} x " +
          s"${ds.dtype.size}"))
      require(ds.unlimited0 || (ds.chunkRows.isEmpty && ds.deflate.isEmpty
        && ds.szip.isEmpty && !ds.fletcher32 && !ds.shuffle),
        s"${ds.name}: chunkRows/deflate/szip/shuffle/fletcher32 need " +
          "chunked layout (unlimited0 = true)")
      require(ds.deflate.isEmpty || ds.szip.isEmpty,
        s"${ds.name}: deflate and szip are mutually exclusive")
      ds.deflate.foreach(l => require(l >= 1 && l <= 9,
        s"${ds.name}: deflate level $l out of range 1-9"))
      ds.chunkRows.foreach(c => require(c > 0,
        s"${ds.name}: chunkRows $c must be positive"))
    }

    private val openStreams = scala.collection.mutable.Set[String]()

    private def rowBytesOf(ds: WDataset): Long =
      math.max(ds.shape.drop(1).product, 1L) * ds.dtype.size

    /** Open `ds`'s chunk stream with `cr` records per chunk. A declared
      * chunk must stay under HDF5's 4 GiB/chunk limit and the u32
      * chunk-dim field, or the layout message silently truncates for
      * readers. */
    private def open(ds: WDataset, cr: Long): ChunkStream = {
      val rowBytes = rowBytesOf(ds)
      require(cr * rowBytes < (4L << 30) && cr <= 0xffffffffL,
        s"${ds.name}: chunk of $cr rows x $rowBytes B exceeds the HDF5 " +
          "4 GiB/chunk limit; pass a smaller chunkRows")
      openStreams += ds.name
      chunkRowsUsed(ds.name) = cr
      new ChunkStream(ds, cr)
    }

    /** Open an interleaved chunk stream for `ds` (data must be None,
      * `unlimited0` + `chunkRows` set, shape.head = final row count). */
    def openChunked(ds: WDataset): ChunkStream = {
      require(ds.data.isEmpty, s"${ds.name}: openChunked takes payloads")
      require(ds.unlimited0 && ds.chunkRows.exists(_ > 0),
        s"${ds.name}: streamed chunks need unlimited0 + chunkRows")
      require(!openStreams.contains(ds.name),
        s"${ds.name}: chunk stream already open")
      validate(ds)
      open(ds, ds.chunkRows.get.toLong)
    }

    /** Append one LOGICAL chunk (cr rows x rowBytes, edge chunk already
      * padded to the full chunk extent by the caller); the declared
      * filter pipeline applies here. */
    def appendChunk(h: ChunkStream, raw: Array[Byte]): Unit = {
      require(!h.closed, s"${h.ds.name}: chunk stream already closed")
      val ds = h.ds
      var payload = raw
      if (ds.shuffle) payload = shuffleBytes(payload, ds.dtype.size)
      ds.deflate.foreach(lvl => payload = deflateBytes(payload, lvl))
      ds.szip.foreach(p => payload = Szip.encode(payload, p))
      if (ds.fletcher32) {
        // trailing checksum, little-endian, over the (possibly
        // compressed) chunk as stored — matching the pipeline order
        // declared in the filter message (deflate, then fletcher32)
        val sum = Hdf5Reader.fletcher32(payload, payload.length)
        val w = java.util.Arrays.copyOf(payload, payload.length + 4)
        w(payload.length) = (sum & 0xff).toByte
        w(payload.length + 1) = ((sum >> 8) & 0xff).toByte
        w(payload.length + 2) = ((sum >> 16) & 0xffL).toByte
        w(payload.length + 3) = ((sum >> 24) & 0xff).toByte
        payload = w
      }
      out.align8()
      h.entries += ((h.off, payload.length, out.pos))
      out.bytes(payload)
      h.off += h.cr
    }

    /** Write the stream's chunk B-tree and register the dataset. */
    def closeChunked(h: ChunkStream): Unit = {
      require(!h.closed, s"${h.ds.name}: chunk stream already closed")
      h.closed = true
      chunkBt(h.ds.name) = writeChunkBtree(out, h.ds.shape.length,
        h.entries.toSeq, h.ds.shape, h.cr)
      metas += h.ds
      openStreams -= h.ds.name
    }

    /** Feed one dataset whose data (if any) is fully in memory. */
    def dataset(ds: WDataset): Unit = {
      validate(ds)
      if (ds.unlimited0) {
        val nRows = ds.shape.headOption.getOrElse(0L)
        val rowBytes = rowBytesOf(ds)
        // chunk extent along dim 0: caller's chunkRows, else one chunk
        // spanning the whole current extent (the pre-r5 shape) — CLAMPED
        // so a declared chunk never exceeds HDF5's 4 GiB-per-chunk limit
        // (a phony unlimited dim with billions of rows and no data would
        // otherwise declare an illegal chunk in the layout message)
        val cr = ds.chunkRows.map(_.toLong).filter(_ > 0)
          .getOrElse(math.max(1L, math.min(nRows, (1L << 30) / rowBytes)))
        // the stream keeps meta only; the data is sliced into chunks here
        val h = open(ds.copy(data = None), cr)
        ds.data.filter(_.nonEmpty).foreach { data =>
          val logical = (cr * rowBytes).toInt
          var off = 0L
          while (off < nRows) {
            val at = (off * rowBytes).toInt
            // copyOfRange zero-pads the edge chunk to the full extent
            appendChunk(h, java.util.Arrays.copyOfRange(data, at, at + logical))
            off += cr
          }
        }
        closeChunked(h)
      } else {
        ds.data.foreach { d =>
          out.align8()
          contAddr(ds.name) = (out.pos, d.length.toLong)
          out.bytes(d)
        } // else: unallocated contiguous storage (address undefined)
        metas += ds.copy(data = None) // free the data; finish needs meta only
      }
    }

    // gheap address slots of the attr body being built (body-relative;
    // rebased to absolute positions by writeOH)
    private val pendingGheapSlots = scala.collection.mutable.ArrayBuffer[Int]()

    // ---- one v1 attribute message body
    private def attrBody(name: String, v: WAttrVal): Array[Byte] = {
      val b = new MemOut
      val (dt, ds, data: Array[Byte], gSlots) = v match {
        case WStrAttr(s) =>
          val raw = s.getBytes("UTF-8")
          (dtBytes(WStr(raw.length + 1)), dsBytes(Nil, None),
            java.util.Arrays.copyOf(raw, raw.length + 1), Nil)
        case WLongAttr(x, size) =>
          val d = new MemOut
          (0 until size).foreach(i => d.u8(((x >> (8 * i)) & 0xff).toInt))
          (dtBytes(WInt(size, signed = true)), dsBytes(Nil, None),
            d.result(), Nil)
        case WDoubleAttr(x) =>
          val d = new MemOut; d.u64(java.lang.Double.doubleToLongBits(x))
          (dtBytes(WF64), dsBytes(Nil, None), d.result(), Nil)
        case WFloatAttr(x) =>
          val d = new MemOut
          d.u32(java.lang.Float.floatToIntBits(x) & 0xffffffffL)
          (dtBytes(WF32), dsBytes(Nil, None), d.result(), Nil)
        case WDimListAttr(dimNames) =>
          val d = new MemOut
          val slots = dimNames.map { dn =>
            val target = ohAddr.getOrElse(dn, throw new IllegalStateException(
              s"DIMENSION_LIST references $dn before its dataset is written"))
            val ref = new MemOut; ref.u64(target)
            val idx = gheap.add(ref.result())
            d.u32(1) // vlen length: one reference
            val slot = d.pos.toInt; d.u64(0) // collection address (patched)
            d.u32(idx)
            slot
          }
          (dtVlenRefBytes(), dsBytes(Seq(dimNames.length.toLong), None),
            d.result(), slots)
      }
      val nameRaw = name.getBytes("UTF-8")
      val nsize = nameRaw.length + 1
      b.u8(1); b.u8(0) // version 1, reserved — name starts at +8
      b.u16(nsize); b.u16(dt.length); b.u16(ds.length)
      b.bytes(nameRaw); b.u8(0); b.align8()
      b.bytes(dt); b.align8()
      b.bytes(ds); b.align8()
      val dataStart = b.pos.toInt
      b.bytes(data)
      // remember gheap address slots relative to the body start
      gSlots.foreach(s => pendingGheapSlots += (dataStart + s))
      b.result()
    }

    // ---- one v1 object header from (type, body) messages
    private def writeOH(msgs: Seq[(Int, () => Array[Byte])]): Long = {
      out.align8()
      val addr = out.pos
      out.u8(1); out.u8(0)
      out.u16(msgs.size)
      out.u32(1) // object reference count
      val sizeSlot = out.pos; out.u32(0)
      out.u32(0) // pad to 8-align message start
      val start = out.pos
      msgs.foreach { case (t, mkBody) =>
        pendingGheapSlots.clear()
        val body = mkBody()
        val padded = (body.length + 7) / 8 * 8
        out.u16(t); out.u16(padded)
        out.u8(0); out.u8(0); out.u8(0); out.u8(0) // flags + reserved
        val bodyAt = out.pos
        out.bytes(body); out.zeros(padded - body.length)
        pendingGheapSlots.foreach(rel => gheap.addrSlots += (bodyAt + rel))
      }
      out.patch32(sizeSlot, out.pos - start)
      addr
    }

    /** Write every object header, the root group, and the global heap;
      * patch the superblock. The sink stays open (caller closes). */
    def finish(rootAttrs: Seq[(String, WAttrVal)]): Unit = {
      require(!finished, "StreamWriter already finished")
      require(openStreams.isEmpty,
        s"chunk streams still open: ${openStreams.mkString(", ")} — " +
          "closeChunked each before finish")
      finished = true
      val datasets = metas.toSeq
      out.patch16(leafKSlot, math.max(4, datasets.size))

      // ---- dataset object headers (caller ordered dims before referencers)
      datasets.foreach { ds =>
        val maxShape =
          if (ds.unlimited0)
            Some(Undefined +: ds.shape.drop(1))
          else None
        val msgs = Seq.newBuilder[(Int, () => Array[Byte])]
        msgs += 0x01 -> (() => dsBytes(ds.shape, maxShape))
        msgs += 0x03 -> (() => dtBytes(ds.dtype))
        msgs += 0x05 -> (() => Array[Byte](2, 2, 0, 0)) // fill v2, undefined
        // filter pipeline v1, filters in write-application order: shuffle
        // (id 2, client data = element size), deflate (id 1, client data =
        // level), then fletcher32 (id 3)
        val pipeline: Seq[(Int, Seq[Int])] =
          (if (ds.shuffle) Seq(2 -> Seq(ds.dtype.size)) else Nil) ++
            ds.deflate.map(lvl => 1 -> Seq(lvl)).toSeq ++
            ds.szip.map(p => 4 -> Seq(p.optionMask, p.bitsPerPixel,
              p.pixelsPerBlock, p.pixelsPerScanline)).toSeq ++
            (if (ds.fletcher32) Seq(3 -> Seq.empty[Int]) else Nil)
        if (pipeline.nonEmpty && ds.unlimited0)
          msgs += 0x0b -> { () =>
            val b = new MemOut
            b.u8(1); b.u8(pipeline.size); b.zeros(6) // version, nf, reserved
            pipeline.foreach { case (id, cd) =>
              b.u16(id); b.u16(0) // filter id, name length
              b.u16(0); b.u16(cd.size) // flags, client data count
              cd.foreach(v => b.u32(v & 0xffffffffL)) // 4-byte values (spec)
              if (cd.size % 2 == 1) b.u32(0) // v1 pads odd count with 4 B
            }
            b.result()
          }
        msgs += 0x08 -> { () =>
          val b = new MemOut
          b.u8(3) // layout v3
          if (ds.unlimited0) {
            b.u8(2) // chunked
            b.u8(ds.shape.length + 1)
            b.u64(chunkBt(ds.name))
            b.u32(math.max(chunkRowsUsed(ds.name), 1L))
            ds.shape.drop(1).foreach(s => b.u32(math.max(s, 1L)))
            b.u32(ds.dtype.size)
          } else {
            b.u8(1) // contiguous
            val (addr, size) = contAddr.getOrElse(ds.name, (Undefined, 0L))
            b.u64(addr); b.u64(size)
          }
          b.result()
        }
        ds.attrs.foreach { case (an, av) =>
          msgs += 0x0c -> (() => attrBody(an, av))
        }
        // record the address BEFORE building messages so a later
        // variable's DIMENSION_LIST resolves this dataset; writeOH
        // computes the address at align8 time, so pre-compute it:
        out.align8()
        ohAddr(ds.name) = out.pos
        writeOH(msgs.result())
      }

      // ---- local heap with all link names
      out.align8()
      val heapAddr = out.pos
      val nameOff = scala.collection.mutable.Map[String, Long]()
      val heapData = new MemOut
      heapData.zeros(8) // offset 0: empty name (root entry) + alignment
      datasets.foreach { ds =>
        nameOff(ds.name) = heapData.pos
        heapData.bytes(ds.name.getBytes("UTF-8")); heapData.u8(0)
        heapData.align8()
      }
      val hd = heapData.result()
      out.bytes("HEAP".getBytes("US-ASCII"))
      out.u8(0); out.zeros(3)
      out.u64(hd.length)
      out.u64(1) // free list: none
      out.u64(heapAddr + 32) // data segment directly follows the header
      out.bytes(hd)

      // ---- SNOD with all entries, sorted by link name
      out.align8()
      val snodAddr = out.pos
      val sorted = datasets.map(_.name).sorted
      out.bytes("SNOD".getBytes("US-ASCII"))
      out.u8(1); out.u8(0)
      out.u16(sorted.size)
      sorted.foreach { n =>
        out.u64(nameOff(n))
        out.u64(ohAddr(n))
        out.u32(0); out.u32(0) // cache type, reserved
        out.zeros(16)
      }

      // ---- group B-tree (single leaf entry -> the SNOD)
      out.align8()
      val btreeAddr = out.pos
      out.bytes("TREE".getBytes("US-ASCII"))
      out.u8(0) // node type 0: group nodes
      out.u8(0) // level
      out.u16(1)
      out.u64(Undefined); out.u64(Undefined)
      out.u64(0) // key 0: empty name (sorts before everything)
      out.u64(snodAddr)
      out.u64(sorted.lastOption.map(nameOff).getOrElse(0L)) // key 1
      // ---- root group object header
      val rootMsgs = Seq.newBuilder[(Int, () => Array[Byte])]
      rootMsgs += 0x11 -> { () =>
        val b = new MemOut; b.u64(btreeAddr); b.u64(heapAddr); b.result()
      }
      rootAttrs.foreach { case (an, av) =>
        rootMsgs += 0x0c -> (() => attrBody(an, av))
      }
      val rootOh = writeOH(rootMsgs.result())

      // ---- global heap collection (DIMENSION_LIST reference payloads).
      // Emitted LAST, after every object header — attrBody may add gheap
      // objects while any OH (including the root's) is being built, and
      // the address-slot patch below must see all of them. Readers chase
      // the patched address, so the collection's position is irrelevant.
      if (gheap.objs.nonEmpty) {
        out.align8()
        val gcolAddr = out.pos
        val objBytes = gheap.objs.map(o => 16 + (o.length + 7) / 8 * 8).sum
        // collections are at least 4096 bytes per the spec; pad with the
        // terminating free-space object
        val total = math.max(16L + objBytes + 16, 4096L)
        out.bytes("GCOL".getBytes("US-ASCII"))
        out.u8(1); out.zeros(3)
        out.u64(total)
        gheap.objs.zipWithIndex.foreach { case (o, i) =>
          out.u16(i + 1) // object index (1-based)
          out.u16(1) // reference count
          out.u32(0)
          out.u64(o.length)
          out.bytes(o); out.align8()
        }
        val used = out.pos - gcolAddr
        out.u16(0); out.u16(0); out.u32(0) // free-space object (index 0)
        out.u64(total - used) // remaining bytes incl. this header
        out.zeros((gcolAddr + total - out.pos).toInt)
        gheap.addrSlots.foreach(slot => out.patch64(slot, gcolAddr))
      }

      out.patch64(rootOhSlot, rootOh)
      out.patch64(eofSlot, out.pos)
    }
  }

  // ---------------------------------------------------------------- write

  /** Run a streamed assembly against `dst` SAFELY: the body writes to a
    * sibling temp file which moves into place only after `finish`
    * succeeds — a mid-write failure (bad dataset, upstream job error)
    * never truncates or corrupts a pre-existing output. The body must
    * call `finish` itself (so it can feed datasets lazily). */
  def streamTo[A](dst: java.nio.file.Path)(body: StreamWriter => A): A = {
    val tmp = dst.resolveSibling(dst.getFileName.toString + ".__tmp")
    val out = new FileOut(tmp)
    var ok = false
    try {
      val a = body(new StreamWriter(out))
      ok = true
      a
    } finally {
      out.close()
      if (ok)
        java.nio.file.Files.move(tmp, dst,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      else java.nio.file.Files.deleteIfExists(tmp)
    }
  }

  def write(dst: java.nio.file.Path, datasets: Seq[WDataset],
      rootAttrs: Seq[(String, WAttrVal)]): Unit =
    streamTo(dst) { w =>
      datasets.foreach(w.dataset)
      w.finish(rootAttrs)
    }

  /** In-memory assembly (byte-level tests). */
  def build(datasets: Seq[WDataset],
      rootAttrs: Seq[(String, WAttrVal)]): Array[Byte] = {
    val out = new MemOut
    val w = new StreamWriter(out)
    datasets.foreach(w.dataset)
    w.finish(rootAttrs)
    out.result()
  }
}
