"""Structured Streaming surface (SURVEY.md §2.8) — the Spardaqus
transport/analyze analog: the batch pipeline's scoring kernel and write
step reused per micro-batch via foreachBatch (``scrub_stream``), and the
stateful MinHash near-dup candidate stream."""
