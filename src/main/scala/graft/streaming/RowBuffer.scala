package graft.streaming

/** bristle's on-full admission policies (D1) and write results. The
  * buffer that applies them is [[graft.sources.QueueSource.IngestQueue]],
  * whose observable semantics match the reference
  * (memory_row_buffer.go:47-107) exactly, including its quirks:
  *
  *  - a batch larger than the capacity is rejected whole (TooBig);
  *  - `DropOldest` evicts from the FRONT of the buffer to fit the
  *    whole incoming batch;
  *  - `DropNewest` truncates the incoming batch to its TAIL
  *    (batch[batchSize-spareRoom:]) — i.e. it actually drops the
  *    head of the new batch, a reference quirk we preserve
  *    (memory_row_buffer.go:79-80);
  *  - `Block` rejects the write (Full) and buffers nothing.
  *
  * This is the load-shedding decision bristle makes *before* a row is
  * durable; a landing micro-batch then drains everything admitted.
  */
object RowBuffer {
  sealed trait OnFull
  case object DropOldest extends OnFull
  case object DropNewest extends OnFull
  case object Block extends OnFull

  sealed trait WriteResult
  case object Ok extends WriteResult
  case object Full extends WriteResult
  case object TooBig extends WriteResult
  /** D7: streaming-session admission rejection — more concurrent batch
    * writes than the in-flight cap (reference
    * ingest_service.go:185,219-227 TOO_MANY_IN_FLIGHT_BATCHES).
    */
  case object TooManyInFlight extends WriteResult
}
