#!/bin/bash
# All verify surfaces (.claude/skills/verify/SKILL.md), sequentially —
# never run two Spark JVMs at once. ~20 min total. Stage 0 fails fast on
# the teacher trip-wires (seconds) before any expensive sweep runs.
set -e
cd /root/repo
echo "=== 0/6 teacher trip-wires (fail fast — VERDICT r15 next #7) ==="
# Byte-stability pin first (pure-Python, instant): a constant edit to the
# teacher formula must fail HERE, before any expensive Spark sweep runs.
python -m pytest tests/test_textstats.py::test_teacher_module_renders_historic_literals -q
# Then the cross-module drift trip-wire (one small Spark job): DSIR's
# resampling target must equal the classifier's teacher labels doc-by-doc.
python -m pytest tests/test_dsir.py::test_dsir_target_matches_graded_teacher -q
# No package module may be reachable only from tests (import graph via
# ast, no Spark): an orphaned module fails here, not after the sweeps.
python -m pytest tests/test_registry.py::test_every_module_is_reached_outside_tests -q
# Streams start only in the replay harness (streaming/landing.replay; ast).
python -m pytest tests/test_registry.py::test_streams_start_only_in_the_replay_harness -q
echo "=== 1/6 traversal step parity (local CSR vs Spark, sf0.001) ==="
# Both traversal steps on every traversal shape: a divergence between
# the driver-local CSR step and the Spark step fails here in about a
# minute, before the graded gate.
python -m pytest tests/test_traversal.py -q -k "test_steps_return_equal_rows or test_shortest_path_parent_tie_in_string_order"
echo "=== 2/6 graded gate (sf0.01, full registry) ==="
python tools/check_correctness.py /root/testdata/sf0.01
echo "=== 3/6 entry smoke ==="
python -c "
import sys; sys.path.insert(0,'/root/repo')
import __spark_entry__ as E
from knowledge_graph_system_spark.session import get_spark
s = get_spark('smoke')
print(len(E.entry(s).collect()), 'rows')"
echo "=== 4/6 perfbench smoke (every interactive template vs its oracle, sf0.001) ==="
python3 perfbench/smoke.py
echo "=== 5/6 bench (sf0.1) ==="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python bench.py | tail -1
echo "=== 6/6 bare-session sim (sf0.001) ==="
python -c "
import sys; sys.path.insert(0,'/root/repo')
from pyspark.sql import SparkSession
s = SparkSession.builder.master('local[8]').getOrCreate()
import __spark_entry__ as E
print(sum(1 for n,f in E.queries().items()
          if f(s,'/root/testdata/sf0.001').count() >= 0), 'queries ran')"
echo "ALL SURFACES GREEN"
