"""The benchmark's workloads: which jobs run, in which order, on which input.

A job is a registry query, given by name or by a name prefix that stands
for every registry name it starts. The jobs run once in the warm-up pass and
then in whole passes, in this order. `src` is the fixture the seeded input
is derived from and `copies` its inflation factor. Each list has an odd
number of jobs, so the median job time falls on one job's samples rather
than between two groups of jobs. `pass_s` is the nominal
length of a warm pass on a 4-core host: a run makes `round(seconds /
pass_s)` passes (at least two), so it measures about `--seconds`, and the
sample count does not change with the host's speed.
"""

WORKLOADS = {
    "llm_curation": {
        "src": "sf0.01", "copies": 2, "pass_s": 5.5,
        "jobs": ["dd02_", "dd06_", "ss02_", "ss04_", "ta03_", "ta25_", "pl05_"],
    },
    "stream_ingest": {
        "src": "sf0.01", "copies": 1, "pass_s": 6.0,
        "jobs": ["st02_", "st12_", "pp02_"],
    },
}
