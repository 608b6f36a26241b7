package graft.log

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import graft.model.{DeletionVectorDescriptor, RoaringBitmapArray, Z85}

/** Reads and writes deletion-vector files (delta PROTOCOL "Deletion
  * Vectors"): a `.bin` file starting with a 1-byte format version, holding
  * framed roaring-bitmap blobs addressed by (offset, sizeInBytes) from the
  * add action's descriptor.
  *
  * Scale note: a DV is table METADATA, like stats — KBs per file,
  * resolved once on the driver and broadcast; the row-level filtering
  * itself happens executor-side against the broadcast bitmaps, never by
  * shuffling data rows (see `sources/ScanCore.scala`).
  */
object DeletionVectors {

  def fileName(uuid: UUID): String = s"deletion_vector_$uuid.bin"

  /** Write ONE DV file holding a bitmap per entry of `deletes`
    * (relative data-file path -> deleted row indexes); returns the
    * storageType "u" descriptor for each. `salt` (e.g. the committing
    * version) keeps the deterministic file name unique across commits so
    * an earlier version's DV file is never overwritten (time travel).
    */
  def write(
      tablePath: String,
      deletes: Map[String, Seq[Long]],
      conf: Configuration,
      salt: String = ""): Map[String, DeletionVectorDescriptor] =
    writeBlobs(tablePath,
      deletes.view.mapValues { rows =>
        val bm = RoaringBitmapArray(rows)
        (bm.serialize(), bm.cardinality)
      }.toMap,
      conf, salt)

  /** Like [[write]], but from PRE-SERIALIZED bitmaps
    * (relative data-file path -> (blob, cardinality)) — the variant the
    * distributed DELETE path uses: executors serialize, the driver only
    * frames the KB-sized blobs into the DV file.
    */
  def writeBlobs(
      tablePath: String,
      blobs: Map[String, (Array[Byte], Long)],
      conf: Configuration,
      salt: String = ""): Map[String, DeletionVectorDescriptor] = {
    require(blobs.nonEmpty, "no deletion vectors to write")
    val uuid = UUID.nameUUIDFromBytes(
      (tablePath + "@" + salt + ":" + blobs.keys.toSeq.sorted.mkString(","))
        .getBytes("UTF-8"))
    val dvPath = new Path(tablePath, fileName(uuid))
    val fs = dvPath.getFileSystem(conf)
    val out = fs.create(dvPath, true)
    val descriptors = Map.newBuilder[String, DeletionVectorDescriptor]
    try {
      out.write(RoaringBitmapArray.DV_FILE_VERSION.toInt)
      var offset = 1
      blobs.toSeq.sortBy(_._1).foreach { case (rel, (data, card)) =>
        val framed = RoaringBitmapArray.frameBlob(data)
        out.write(framed)
        descriptors += rel -> DeletionVectorDescriptor(
          storageType = "u",
          pathOrInlineDv = Z85.encodeUuid(uuid),
          offset = Some(offset),
          sizeInBytes = data.length,
          cardinality = card)
        offset += framed.length
      }
    } finally out.close()
    descriptors.result()
  }

  /** Inline ("i") descriptor — the whole bitmap z85-packed into the
    * action JSON; right for tiny DVs where a separate file round-trip
    * costs more than the log bytes.
    */
  def inlineDescriptor(rows: Seq[Long]): DeletionVectorDescriptor = {
    val bitmap = RoaringBitmapArray(rows)
    val data = bitmap.serialize()
    DeletionVectorDescriptor(
      storageType = "i",
      pathOrInlineDv = Z85.encode(data),
      offset = None,
      sizeInBytes = data.length,
      cardinality = bitmap.cardinality)
  }

  /** The absolute path of a "u"/"p" descriptor's DV file. */
  def dvFilePath(tablePath: String, dv: DeletionVectorDescriptor): Path =
    dv.storageType match {
      case "u" =>
        // pathOrInlineDv = [random prefix]<20-char z85 uuid>
        val s = dv.pathOrInlineDv
        require(s.length >= 20, s"bad uuid DV path '$s'")
        val uuid = Z85.decodeUuid(s.substring(s.length - 20))
        val prefix = s.substring(0, s.length - 20)
        if (prefix.isEmpty) new Path(tablePath, fileName(uuid))
        else new Path(new Path(tablePath, prefix), fileName(uuid))
      case "p" => new Path(dv.pathOrInlineDv)
      case other => throw new IllegalArgumentException(s"DV storageType '$other' has no file")
    }

  /** The serialized bitmap bytes for any descriptor type. */
  def resolveBytes(
      tablePath: String,
      dv: DeletionVectorDescriptor,
      conf: Configuration): Array[Byte] = dv.storageType match {
    case "i" =>
      // z85 pads to 4 bytes; the roaring format is self-describing, so
      // trailing padding is ignored by deserialize
      Z85.decode(dv.pathOrInlineDv)
    case "u" | "p" =>
      val p = dvFilePath(tablePath, dv)
      val fs = p.getFileSystem(conf)
      val len = fs.getFileStatus(p).getLen.toInt
      val bytes = new Array[Byte](len)
      val in = fs.open(p)
      try in.readFully(0, bytes) finally in.close()
      verifiedBlob(bytes, dv, p.toString)
    case other =>
      throw new IllegalArgumentException(s"unknown DV storageType '$other'")
  }

  /** Version-check + unframe + size cross-check of one DV file's bytes —
    * the shared trailing half of every file-backed resolution (local
    * filesystem or fetched pre-signed URL).
    */
  def verifiedBlob(
      fileBytes: Array[Byte],
      dv: DeletionVectorDescriptor,
      source: String): Array[Byte] = {
    require(fileBytes.nonEmpty && fileBytes(0) == RoaringBitmapArray.DV_FILE_VERSION,
      s"unsupported DV file version ${fileBytes.headOption.getOrElse(-1)} at $source")
    val data = RoaringBitmapArray.unframeBlob(fileBytes, dv.offset.getOrElse(1))
    require(data.length == dv.sizeInBytes,
      s"DV size mismatch at $source: descriptor ${dv.sizeInBytes}, blob ${data.length}")
    data
  }

  def resolve(
      tablePath: String,
      dv: DeletionVectorDescriptor,
      conf: Configuration): RoaringBitmapArray =
    RoaringBitmapArray.deserialize(resolveBytes(tablePath, dv, conf))
}
