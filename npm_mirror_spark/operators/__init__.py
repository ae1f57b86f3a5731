"""Pure DataFrame -> DataFrame operator library.

Every operator is a pure function usable under both ``spark.read`` and
``spark.readStream`` (stream/batch parity is a test, not a port). External
side effects live behind ``foreachBatch``/``mapInPandas`` seams in
``npm_mirror_spark.streaming``; nothing here touches the network or disk.
"""
