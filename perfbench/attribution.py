"""Call site → source file → module attribution of Spark jobs.

A Spark stage is named after the call site of the action that created
it, "<method> at <File>.scala:<line>". Result stages of graft's own
actions name a repo file (`saveAsTable at AnnStore.scala:140`); the
shuffle stages adaptive execution submits from its own thread do not
(`$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768`).
Those are attributed through their SQL execution id to the execution's
call site, then to the first repo frame of its stack, then to the
module of the public call the benchmark was making; what remains is
`unattributed`. A job whose call site is the benchmark's own code (it
collected what a public call returned) is charged to that call's
module. A job that only the enclosing call claims is charged the same
way but counts as unattributed in `engine.unattributed_share`, since
nothing about the job itself named its module. Jobs of a streaming micro-batch all carry the query's
`start()` call site, so for them the listener reads the call site off
the stream thread's stack (`stack_site`), which takes precedence.
"""
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = os.path.join(ROOT, "src", "main", "scala", "graft")

# files that are a module of their own
FILE_MODULES = {
    "Sessions.scala": "Sessions",
    "Checkpoints.scala": "Checkpoints",
    "SimOps.scala": "ops.SimOps",
    "MergeWriter.scala": "sinks.MergeWriter",
    "AnnStore.scala": "sinks.AnnStore",
    "StreamOps.scala": "streaming",
}
# every other file belongs to its directory's module; top-level files
# (the Graft facade, Tables, F, SparkEntry) build query plans, like ops
DIR_MODULES = {"": "ops", "ops": "ops", "functions": "ops", "plans": "ops",
               "sources": "sources", "sinks": "sinks", "streaming": "streaming"}
# materialising a checkpoint is the Checkpoints layer wherever it is called
CHECKPOINT_METHODS = {"localCheckpoint", "checkpoint"}
UNATTRIBUTED = "unattributed"

_SITE = re.compile(r"^(\S+) at ([\w$.-]+\.(?:scala|java)):\d+$")
_FRAME = re.compile(r"\(([\w$.-]+\.scala):\d+\)")


def file_modules(src=SRC):
    """{file name: module} for every library source file."""
    table = {}
    for d, _, files in os.walk(src):
        rel = os.path.relpath(d, src)
        top = "" if rel == "." else rel.split(os.sep)[0]
        for f in files:
            if f.endswith(".scala"):
                table[f] = FILE_MODULES.get(f, DIR_MODULES.get(top, "ops"))
    return table


TABLE = file_modules()
# the benchmark's own sources: a job whose call site names one of them
# is an action the benchmark took, not library work of unknown origin
BENCH_FILES = frozenset(f for f in os.listdir(os.path.join(ROOT, "perfbench", "scala")) if f.endswith(".scala"))


def site_module(site, table=TABLE):
    """Module named by a short call site, or None."""
    m = _SITE.match(site or "")
    if not m or m.group(2) not in table:
        return None
    if m.group(1) in CHECKPOINT_METHODS:
        return "Checkpoints"
    return table[m.group(2)]


def site_attribution(site, exec_desc="", exec_details="", stack_site="", table=TABLE):
    """Module named by a job's own call sites, or None: the call site
    read off a stream thread's stack (micro-batch jobs, whose stages all
    carry the query's start site), else its stage's call site, else its
    SQL execution's call site, else the first repo frame of the
    execution's stack."""
    for s in (stack_site, site, exec_desc):
        m = site_module(s, table)
        if m:
            return m
    for f in _FRAME.findall(exec_details or ""):
        if f in table:
            return table[f]
    return None


def bench_action(site, exec_desc="", bench_files=BENCH_FILES):
    """True when the job's call site is the benchmark's own code: an
    action (`collect`, a read's file listing) the benchmark takes on
    what a public call returned."""
    for s in (site, exec_desc):
        m = _SITE.match(s or "")
        if m and m.group(2) in bench_files:
            return True
    return False


def job_attribution(site, exec_desc="", exec_details="", call_module=None, stack_site="", table=TABLE):
    """(module, how) of one job. `how` is "site" when its call sites
    name a library file (`site_attribution`); "action" when it is the
    benchmark's own action inside a public call, which is charged to
    that call's module; "fallback" when nothing but the enclosing call
    claims it, charged the same way; and "none" when it is
    `unattributed`. Only "site" and "action" count as attributed in
    `engine.unattributed_share`."""
    m = site_attribution(site, exec_desc, exec_details, stack_site, table)
    if m:
        return m, "site"
    if not call_module:
        return UNATTRIBUTED, "none"
    return call_module, "action" if bench_action(site, exec_desc) else "fallback"


def job_module(site, exec_desc="", exec_details="", call_module=None, stack_site="", table=TABLE):
    """Module of one job (see `job_attribution`)."""
    return job_attribution(site, exec_desc, exec_details, call_module, stack_site, table)[0]
