#!/usr/bin/env python3
"""Summarize an uncompressed Spark event log by job group or job description.

For each job group (the `spark.jobGroup.id` local property; jobs without one
fall under "-") it prints the number of jobs, the tasks those jobs ran, how
many of the jobs were parallel file-listing jobs ("Listing leaf files ..."),
the tasks of those, and the summed job time (submission to completion).
With `--by description` the rows are job descriptions instead (the
`spark.job.description` local property): `Pipeline.run` labels its jobs
`pipeline:<layer>:<step>`, so an untraced medbench run splits by layer.

    python3 tools/joblog.py EVENT_LOG [--by group|description] [--depth N]

EVENT_LOG is a log file, or a rolling log's `eventlog_v2_*` directory (Spark
4's default), whose `events_<n>_*` files are read in order.

`--depth N` keeps only the first N fields of each key, split on `|` for
groups and `:` for descriptions. So medbench's `mb|<layer>|<call>|<n>` groups
roll up per layer with `--depth 2` or per call with `--depth 3`, and
`pipeline:<layer>:<step>` descriptions per layer with `--depth 2`.
"""
import argparse
import json
import sys
from collections import defaultdict
from pathlib import Path

LISTING = "Listing leaf files"


def summarize(lines, depth=None, by="group"):
    """Rows of (key, jobs, tasks, listing jobs, listing tasks, job seconds)."""
    prop, sep = {"group": ("spark.jobGroup.id", "|"),
                 "description": ("spark.job.description", ":")}[by]
    job_group, job_listing, job_start = {}, {}, {}
    stage_job = {}
    job_tasks = defaultdict(int)
    job_secs = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = ev["Job ID"]
            props = ev.get("Properties") or {}
            group = props.get(prop) or "-"
            if depth:
                group = sep.join(group.split(sep)[:depth])
            job_group[job] = group
            job_listing[job] = (props.get("spark.job.description") or "").startswith(LISTING)
            job_start[job] = ev.get("Submission Time", 0)
            # a stage that an earlier job already ran is skipped here
            for stage in ev.get("Stage IDs", []):
                stage_job.setdefault(stage, job)
        elif kind == "SparkListenerTaskEnd":
            job = stage_job.get(ev["Stage ID"])
            if job is not None:
                job_tasks[job] += 1
        elif kind == "SparkListenerJobEnd":
            job = ev["Job ID"]
            if job in job_start:
                job_secs[job] = (ev.get("Completion Time", 0) - job_start[job]) / 1000.0

    agg = defaultdict(lambda: [0, 0, 0, 0, 0.0])
    for job, group in job_group.items():
        a = agg[group]
        a[0] += 1
        a[1] += job_tasks[job]
        if job_listing[job]:
            a[2] += 1
            a[3] += job_tasks[job]
        a[4] += job_secs.get(job, 0.0)
    return sorted(((g, *a) for g, a in agg.items()), key=lambda r: (-r[5], r[0]))


def log_lines(path):
    p = Path(path)
    files = [p]
    if p.is_dir():
        files = sorted(p.glob("events_*"), key=lambda f: int(f.name.split("_")[1]))
    for f in files:
        with open(f) as fh:
            yield from fh


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("log", help="uncompressed event log file or rolling-log directory")
    ap.add_argument("--by", choices=("group", "description"), default="group",
                    help="key jobs by job group (default) or job description")
    ap.add_argument("--depth", type=int, default=None,
                    help="keep the first N fields of each key ('|' for groups, ':' for descriptions)")
    args = ap.parse_args()
    rows = summarize(log_lines(args.log), args.depth, args.by)
    head = (args.by, "jobs", "tasks", "listing_jobs", "listing_tasks", "job_s")
    width = max([len(head[0])] + [len(r[0]) for r in rows])
    fmt = f"{{:<{width}}} {{:>6}} {{:>7}} {{:>12}} {{:>13}} {{:>9}}"
    print(fmt.format(*head))
    for r in rows:
        print(fmt.format(r[0], r[1], r[2], r[3], r[4], f"{r[5]:.2f}"))
    total = [sum(r[i] for r in rows) for i in range(1, 6)]
    print(fmt.format("TOTAL", *total[:4], f"{total[4]:.2f}"))


if __name__ == "__main__":
    sys.exit(main())
