"""Benchmark of the resumable extraction job (`pipeline.run_extraction_job`).

Entry point: `python3 jobbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`. See jobbench/README.md.
"""
