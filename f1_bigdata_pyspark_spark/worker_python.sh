#!/bin/sh
# Python worker launcher (session.use_installed_pyspark): runs the driver's
# interpreter with Spark's zipped pyspark and py4j taken off PYTHONPATH, so
# the worker imports the installed, byte-compiled copy of the same release.
# Every other entry keeps its place.
set -f
path=
IFS=:
for entry in $PYTHONPATH; do
    case ":$_SPARK_GRAFT_DROP:" in
        *":$entry:"*) ;;
        *) path=${path:+$path:}$entry ;;
    esac
done
unset IFS
PYTHONPATH=$path exec "${_SPARK_GRAFT_PYTHON:-python3}" "$@"
