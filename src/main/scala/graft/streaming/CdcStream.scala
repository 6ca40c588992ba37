package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Source-side helpers shared by every stream that writes through
  * [[ManifestCdcStream]]: the file-based changelog source and the
  * checkpoint lineage id that scopes replay detection.
  */
object CdcStream {
  /** Stable id of one checkpoint lineage: a uuid file inside the checkpoint
    * dir, created on first use. Deleting the checkpoint deletes the id —
    * the restart is a new lineage and its batch ids must not be mistaken
    * for replays of the old one.
    */
  def lineageId(checkpointDir: String): String = {
    val p = java.nio.file.Paths.get(checkpointDir, "_stream_id")
    if (java.nio.file.Files.exists(p)) java.nio.file.Files.readString(p).trim
    else {
      java.nio.file.Files.createDirectories(p.getParent)
      val id = java.util.UUID.randomUUID().toString
      val tmp = p.resolveSibling("_stream_id.tmp")
      java.nio.file.Files.writeString(tmp, id)
      try {
        java.nio.file.Files.move(tmp, p,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        id
      } catch { // lost a race with a concurrent creator: use theirs
        case _: java.nio.file.FileAlreadyExistsException =>
          java.nio.file.Files.readString(p).trim
      }
    }
  }

  /** S1/S2 equivalent in the jar-less env: a JSON-lines file stream with the
    * same `value: string` shape as the Kafka source (rate cap via
    * maxFilesPerTrigger mirrors maxOffsetsPerTrigger).
    */
  def fileSource(spark: SparkSession, dir: String,
                 maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.format("text")
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.load(dir)
  }
}
