#!/usr/bin/env bash
# Gate-on-commit guard (r11 verdict task #8): a commit that touches
# compiled sources must at minimum COMPILE. The r7 and r11 round
# failures were both "last snapshot commit broke the build" — a
# 10-second compile check at commit time ends that class. It compiles
# the test tree too: the specs call main-tree signatures a main-only
# compile never checks.
#
# Install (once per clone):  ln -sf ../../tools/precommit.sh .git/hooks/pre-commit
#
# Artifact-only commits (VERDICT/BENCH/SURVEY/docs) skip the check so
# the round driver's bookkeeping commits are never blocked by a state
# the code commit itself should have caught.
set -euo pipefail
cd "$(git rev-parse --show-toplevel)"
if git diff --cached --name-only | grep -qE '^(src/|build\.sbt$|project/)'; then
  # one publish protocol: main code publishes stores through
  # BucketStore's marker, never by renaming a directory on a Hadoop
  # FileSystem (a rename is copy + delete on object stores)
  if git grep --cached -nE '\.rename\(' -- 'src/main/*.scala' >&2; then
    echo "[precommit] src/main calls .rename( — publish through BucketStore instead; commit blocked" >&2
    exit 1
  fi
  # one generation writer: only BucketStore partitions a write by the
  # store's bucket column, and it clusters the rows by bucket first so a
  # generation holds one file per bucket
  if git grep --cached -nE 'partitionBy\((BucketStore\.)?BucketCol\b|partitionBy\("bucket"' \
      -- 'src/main/*.scala' ':!src/main/scala/graft/streaming/BucketStore.scala' >&2; then
    echo "[precommit] src/main partitions a write by bucket outside BucketStore.scala — write generations through BucketStore; commit blocked" >&2
    exit 1
  fi
  echo "[precommit] staged source changes -> sbt Test/compile" >&2
  sbt -batch Test/compile >/tmp/precommit_compile.log 2>&1 || {
    echo "[precommit] COMPILE FAILED — commit blocked (tail of /tmp/precommit_compile.log):" >&2
    tail -20 /tmp/precommit_compile.log >&2
    exit 1
  }
  echo "[precommit] compile green" >&2
fi
