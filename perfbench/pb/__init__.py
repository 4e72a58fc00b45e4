"""Benchmark harness for the transcript-CEP engine (see perfbench/README.md).

Modules:

* ``stats``     — medians, the tail-percentile rule, quartile spread;
* ``proctree``  — CPU seconds and RSS of this process tree, host steal;
* ``tracing``   — in-memory spans written out when the run ends;
* ``epochs``    — checkpoint logs → which files each sink epoch read;
* ``rowhash``   — order-insensitive row hash for output checks;
* ``inputs``    — seeded input generation (corpora, live files, tables);
* ``engine``    — session set-up and the pipeline compositions driven
  through the engine's public functions;
* ``workloads`` — the two workloads, the contract-query pass and the
  traced layer ladder;
* ``harness``   — one run: set-up, timed window, checks, result line.
"""
