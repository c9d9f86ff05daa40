"""End-to-end job benchmark for the hOCR de-noiser.

``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` generates one workload from the seed, runs it through
``checkpoint.run_denoise_job`` (real bucketed parquet plus manifest),
checks every output document against the frozen ``rules_np`` oracle and
every manifest row against a recount, and prints one JSON result line.
``perfbench/METRICS.md`` documents every metric and the layer map.

``bench.py`` at the repository root stays the frozen harness of the
registry leaves; it is not this benchmark.
"""
