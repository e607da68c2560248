"""The open-loop feed of ``stream_pipeline``.

    python3 perfbench/feed.py --src DIR --out DIR --manifest FILE --interval 0.25 \
        --first 0 --count 24

Places ``--count`` pre-generated parquet files of ``--src``, in name order
from the one with index ``--first``, into the directory the system watches,
one every ``--interval`` seconds on a fixed schedule that does not wait for
the consumer: the ``i``-th file is due at ``start + i * interval``.  A file
is placed as a hard link, atomic and cheap, so the feed keeps its schedule
while the system loads every core.  Each placement is logged to the
manifest as
``{"file": k, "due": ..., "written": ...}``, where ``k`` is the file's index
in ``--src``.  The records of file ``k`` carry ``k`` in their stamps
(gen.gen_stream_files), so each record's latency is counted from its file's
due time.
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--src", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--interval", type=float, required=True)
    ap.add_argument("--first", type=int, default=0)
    ap.add_argument("--count", type=int, default=None)
    a = ap.parse_args()

    names = sorted(n for n in os.listdir(a.src) if n.endswith(".parquet"))
    last = len(names) if a.count is None else a.first + a.count
    start = time.time()
    with open(a.manifest, "a") as log:
        for k in range(a.first, min(last, len(names))):
            due = start + (k - a.first) * a.interval
            pause = due - time.time()
            if pause > 0:
                time.sleep(pause)
            os.link(os.path.join(a.src, names[k]), os.path.join(a.out, names[k]))
            log.write(json.dumps({"file": k, "due": due, "written": time.time()}) + "\n")
            log.flush()


if __name__ == "__main__":
    main()
