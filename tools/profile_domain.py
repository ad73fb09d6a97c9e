"""Per-merge wall-clock profile of the declared-domain Pipe replay
(domain_orders_current's dominant cost). Dev tool only."""
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf1.0"

from pyelt_spark.session import get_session

spark = get_session("profdomain", master="local[32]", shuffle_partitions=32)

import pyelt_spark.operators.hubs as hubs
import pyelt_spark.operators.scd2 as scd2
import pyelt_spark.storage.lake as lake
from pyelt_spark.entry_domain import _domain_events, _mappings
from pyelt_spark.plans.pipe import Pipe

t0_all = time.perf_counter()
log = []


def timed(cls, name, table=lambda self, a: a[0] if a else None):
    """Log each call's wall time with the table it ran on (a merge's first
    argument; ``table`` picks it for other methods)."""
    orig = cls.__dict__[name]

    def wrap(self, *a, **k):
        t0 = time.perf_counter()
        out = orig(self, *a, **k)
        dt = time.perf_counter() - t0
        tbl = "/".join(str(getattr(table(self, a), "path", "?")).split("/")[-2:])
        log.append((time.perf_counter() - t0_all, f"{type(self).__name__}.{name}",
                    tbl, round(dt, 2)))
        return out

    setattr(cls, name, wrap)


# the lanes' merge entry points (LinkMerge inherits HubMerge's) and the
# staged writes they end in
timed(scd2.Scd2Merge, "apply_batches")
timed(scd2.Scd2Merge, "prepare_batch")
timed(hubs.HubMerge, "apply_batches")
timed(lake.LakeTable, "stage", lambda self, a: self)
timed(lake.LakeTable, "stage_tagged", lambda self, a: self)

base = "/dev/shm" if os.path.isdir("/dev/shm") else None
root = tempfile.mkdtemp(prefix="profdomain_", dir=base)
pipe = Pipe(spark, root, _mappings(), num_buckets=16)
ev = _domain_events(spark, SF)
t0 = time.perf_counter()
pipe.replay(ev)
wall = time.perf_counter() - t0
shutil.rmtree(root, ignore_errors=True)
print(f"replay wall: {wall:.2f}s")
for ts, what, tbl, dt in sorted(log):
    print(f"  t+{ts:6.2f}  {dt:6.2f}s  {what:26s} {tbl}")
