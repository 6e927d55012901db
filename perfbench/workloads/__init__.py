"""The benchmark's workloads, by the names BENCHMARK.json gives them.

Each workload class is built as cls(size, seconds) and sets ``passes``, its
number of measured passes, from ``seconds`` alone; ``warmup_passes`` passes
run before them, checked but not measured. It implements:
generate(work, seed) -> inputs (untimed, excluded from set-up);
setup(spark, inputs, i) -> state, the workload's own set-up (index build,
stream start, input persist), timed and repeated, the first repetition also
paying the engine's cold start; discard(state), which undoes a set-up that
is not used further; one_pass(run, state, inputs), one pass of timed
operations; check(run, state, inputs), the untimed output checks;
layers(run, state), the workload's own layer breakdown for a traced run;
and release(state).
"""

from .index_churn import IndexChurn
from .registry_mix import RegistryMix

WORKLOADS = {w.name: w for w in (RegistryMix, IndexChurn)}
