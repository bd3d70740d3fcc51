package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** End-to-end sync pipeline: the reference's E1/E2 lifecycle (SURVEY §3)
  * as one orchestration object.
  *
  *  - `bootstrap`: schema creation (L9) — Catalog.bootstrap.
  *  - first run (no sync token ⇒ no checkpoint): full batch backfill of
  *    rooms + participants + messages from the raw-event corpus — the
  *    reference's `initialFetch` branch (client.ts:304-314);
  *  - steady state: Structured-Streaming ingest (Streaming.scala) with
  *    per-batch merges; the checkpoint directory IS the sync token
  *    (S5/S7/L8);
  *  - when a [[CryptoConfig]] is supplied, every batch decrypts
  *    `is_encrypted` events in the hot path (T8, crypto.ts:181-224):
  *    successes land plaintext in `messages`, AES-GCM auth failures set
  *    the in-row error channel and the quarantine split routes them to
  *    `logs` — they never reach the serving tables;
  *  - each batch's derived frames are materialized once: the decrypted
  *    message projection and the T4 participant projection each feed
  *    several writes and probes, so each is persisted for the writes it
  *    feeds and released at the end of them, also when one throws.
  */
object Pipeline {
  /** Above this many distinct member rooms in one batch, the T4
    * room-state consult reads the full participants snapshot instead
    * of a per-bucket union: the driver-side room list stays bounded,
    * and a scan-all is the right plan for a batch that wide. */
  val MaxPrunedRooms = 4096

  /** Run `f` over `df` persisted, and release it when `f` returns or
    * throws. A micro-batch fans out into several writes and probes,
    * each its own Spark action over the same lazy plan; without this
    * every action re-reads, re-parses and re-decrypts the batch.
    * MEMORY_AND_DISK, not a checkpoint: a lost block recomputes from
    * the replayable file-source batch, and a failed batch leaves
    * nothing cached, so its retry recomputes from source. */
  private[etl] def persisted[T](df: DataFrame)(f: DataFrame => T): T = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    try f(p) finally p.unpersist()
  }
}

final case class Pipeline(catalog: Catalog, crypto: Option[CryptoConfig] = None) {

  /** T8 at the ingest edge, when configured (no-op otherwise). */
  private def decrypted(spark: SparkSession, messages: DataFrame): DataFrame =
    crypto match {
      case Some(c) => Ingest.decryptMessages(messages, c)
      case None => messages
    }

  /** Dead-letter rows are kept queryable — the reference persists the
    * error column in-row (schema.ts:66); we land them in `logs`.
    * `tsCol` names the quarantined frame's timestamp column (messages
    * carry processed_at; participant rows carry last_updated). */
  private def quarantineToLogs(spark: SparkSession, quarantined: DataFrame,
      tsCol: String = "processed_at"): Unit =
    if (!quarantined.isEmpty) // don't commit an empty log segment per clean batch
      catalog.append(spark, "logs", quarantined.select(
        col(tsCol).as("timestamp"),
        lit("error").as("level"),
        concat_ws(": ", col("event_id"), coalesce(col("error"), lit("quarantined")))
          .as("message")))

  /** L2 with the reference's NOT NULL membership rule applied: member
    * events whose content yields no membership are rejected by the
    * reference's insert (schema.ts:45), so here they go to `logs` —
    * never as a silent "" into the participants merge. `roomState` is
    * the persisted participants snapshot for SDK-faithful duplicate-name
    * disambiguation scope (None on backfill: the corpus IS the state).
    * The T4 projection is materialized once, before its quarantine
    * split: the bad-row probe and append, the emptiness probe and the
    * merge all read it. */
  private def upsertParticipants(spark: SparkSession, raw: DataFrame,
      roomState: Option[DataFrame]): Unit =
    Pipeline.persisted(Ingest.projectParticipant(raw, roomState)) { projected =>
      val (ok, bad) = Ingest.quarantine(projected)
      quarantineToLogs(spark, bad, tsCol = "last_updated")
      val members = ok.drop("event_id", "error")
      if (!members.isEmpty)
        catalog.upsert(spark, "participants", members,
          keys = Seq("user_id", "room_id"), orderBy = Seq("joined_ts"),
          changeCols = Some(Seq("display_name", "avatar_url", "membership")))
    }

  /** The upserts one batch of raw events fans out into: decrypt (T8) →
    * quarantine split → messages LWW-merge + dead letters to `logs`,
    * then the participants and rooms change-detection merges. The
    * decrypted message projection is materialized once and released
    * before the participant writes; `roomState` is consulted after the
    * messages merge. */
  private def upsertEvents(spark: SparkSession, raw: DataFrame,
      roomState: () => Option[DataFrame]): Unit = {
    Pipeline.persisted(decrypted(spark, Ingest.messagesFromRaw(raw))) { messages =>
      val (clean, quarantined) = Ingest.quarantine(messages)
      catalog.upsert(spark, "messages", clean,
        keys = Seq("event_id"), orderBy = Seq("timestamp", "id"))
      quarantineToLogs(spark, quarantined)
    }
    upsertParticipants(spark, raw, roomState())
    val rooms = Ingest.projectRooms(raw)
    if (!rooms.isEmpty)
      catalog.upsert(spark, "rooms", rooms,
        keys = Seq("room_id"), orderBy = Seq("created_ts"),
        changeCols = Some(Seq("name", "topic", "is_encrypted", "avatar_url")))
  }

  /** Source-boundary dead letters (unparseable JSON lines from
    * [[Ingest.rawFromJsonLines]]): raw-shaped rows whose event_type
    * marks them corrupt — they never reach the message path (the T2
    * filter would silently drop them), so the ingest wiring routes
    * them here before applyBatch. */
  def logCorrupt(spark: SparkSession, corruptRaw: DataFrame): Unit =
    if (!corruptRaw.isEmpty)
      catalog.append(spark, "logs", corruptRaw.select(
        current_timestamp().as("timestamp"),
        lit("error").as("level"),
        concat_ws(": ", col("event_id"), coalesce(col("error"), lit("corrupt")))
          .as("message")))

  /** First-run batch backfill from a raw-event DataFrame (S5 snapshot
    * branch). Incremental runs skip this exactly like the reference:
    * the existence of a sync token (here: any messages snapshot)
    * short-circuits. */
  def backfillIfFirstRun(spark: SparkSession, raw: DataFrame): Boolean = {
    if (catalog.exists("messages")) return false
    upsertEvents(spark, raw, () => None)
    true
  }

  /** T4 scope: disambiguate against live room state (the persisted
    * snapshot ∪ this batch), as the SDK's calculateDisplayName does —
    * not against the batch alone. The batch's member rooms are
    * collected once (bounded by the micro-batch's own width, capped)
    * and drive a bucket-pruned state read: a batch touching k rooms
    * opens ≤ k buckets of the participants table, never the table. A
    * batch with no member events skips the consult entirely; a
    * pathologically wide batch (> MaxPrunedRooms distinct rooms) falls
    * back to the full snapshot — the collect stays bounded either
    * way, and at that width a scan-all is the better plan anyway. */
  private def priorRoomState(spark: SparkSession, raw: DataFrame): Option[DataFrame] = {
    val memberRooms = raw.filter(col("event_type") === "m.room.member"
        && col("room_id").isNotNull)
      .select("room_id").distinct()
      .limit(Pipeline.MaxPrunedRooms + 1)
      .collect().map(_.getString(0)).toSeq
    if (memberRooms.isEmpty || !catalog.exists("participants")) None
    else if (memberRooms.size > Pipeline.MaxPrunedRooms)
      Some(catalog.read(spark, "participants"))
    // room list is already on the driver: besides the bucket-level
    // pruning, hand the scan the exact IN predicate so parquet
    // row-group stats can prune co-bucketed rooms too (the
    // projection's semi join then has nothing left to drop)
    else Some(catalog.readForKeys(spark, "participants", memberRooms)
      .filter(col("room_id").isin(memberRooms: _*)))
  }

  /** Incremental micro-batch apply (the foreachBatch body of E2):
    * decrypt → quarantine split → messages LWW-merge + participants/
    * rooms change-detection merges + sync-token upsert (L8). Each
    * derived frame that feeds several writes exists once per batch and
    * is released at batch end, also when a write throws. */
  def applyBatch(spark: SparkSession, raw: DataFrame, batchId: Long): Unit = {
    upsertEvents(spark, raw, () => priorRoomState(spark, raw))
    // L8: sync-token upsert — batch id plays the next_batch role.
    // Zero-padded so lexicographic order == numeric order (readers
    // tie-break on the token string when created_at collides).
    import spark.implicits._
    catalog.upsert(spark, "sync_state",
      Seq((batchId.toString, f"batch-$batchId%012d")).toDF("id", "next_batch")
        .withColumn("created_at", current_timestamp())
        .select("id", "next_batch", "created_at"),
      keys = Seq("next_batch"), orderBy = Seq("created_at"))
  }
}
