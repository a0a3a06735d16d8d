"""Structured Streaming forms of the engine's operators.

The reference is stream-native (every function is a long-lived worker
over ring buffers); our batch DataFrames define the semantics (the
oracle) and these streaming twins run the same logical plans
incrementally:

- ``windows``  : tumbling/sliding event-time aggregation with
                 watermarks (the COMMIT fast path, SURVEY §4 item 3).
- ``commit``   : the general COMMIT/FLUSH engine as a stateful
                 processor (applyInPandasWithState).
- ``sources``  : EVERY-clock (rate source), file-glob tail.
- ``sinks``    : NOTIFY-style foreachBatch sinks, memory/console tail.
- ``publish``  : the one replay-safe publish step of the file-writing
                 foreachBatch lanes (``dedup``, ``sketch``).
"""
