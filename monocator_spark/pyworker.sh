#!/bin/sh
# Python worker launcher: session.get_spark sets PYSPARK_PYTHON to this file
# (see the session module docstring). It drops the .zip and .jar entries
# Spark puts on the worker's PYTHONPATH, so pyspark is imported from the
# interpreter's own site-packages and the per-task importlib.invalidate_caches()
# has no zip directory to re-read, then execs the interpreter get_spark chose.
path=$PYTHONPATH kept=
while [ -n "$path" ]; do
    entry=${path%%:*}
    case $path in *:*) path=${path#*:} ;; *) path= ;; esac
    case $entry in *.zip | *.jar | "") ;; *) kept=${kept:+$kept:}$entry ;; esac
done
export PYTHONPATH="$kept"
exec "${MONOCATOR_WORKER_PYTHON:?set by monocator_spark.session.get_spark}" "$@"
