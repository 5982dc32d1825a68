# Default size of a plain `java` run of graft's mains on this machine:
# every core, and half the memory clamped to 2..8 GB (the heap formula
# of the tier-1 test command in ROADMAP.md). Replica probes at 64x and
# above want a larger heap: pass one explicitly where a script takes it.
# Source it, then read $DEFAULT_CPUS and $DEFAULT_HEAP:  . scripts/jvm_size.sh
DEFAULT_CPUS="$(env -u OMP_NUM_THREADS nproc)"
DEFAULT_HEAP="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)"
