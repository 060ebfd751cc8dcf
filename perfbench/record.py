"""Record the workloads' expected output signatures per input set.

    python3 perfbench/record.py FIRST LAST

For every input set in [FIRST, LAST] it computes, from scratch, the
signature of the tree built over the pages, of a tree built over the union
of the pages and the 1% delta (``workloads.reference_trees``), and of the
ranks the search battery returns over postings built fresh from that union
(``workloads.reference_ranks``), and merges them into
``perfbench/signatures.json``. A run's seed selects input set
``seed % len(table)``, so the recorded sets must be 0, 1, 2, ... without
gaps. Recording one set takes about 30-60 s on a 4-core host.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> None:
    first, last = int(sys.argv[1]), int(sys.argv[2])
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"record-{os.getpid()}")
    os.makedirs(os.path.join(tmp, "local"))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [HERE, ROOT]
    import workloads
    from raptor_rag_spark.session import get_spark

    spark = get_spark("perfbench-record", cores=4, extra_conf={
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for inputs in range(first, last + 1):
            sigs = {**workloads.reference_trees(spark, inputs),
                    **workloads.reference_ranks(spark, inputs)}
            table = {}
            if os.path.exists(workloads.SIGNATURES):
                with open(workloads.SIGNATURES) as f:
                    table = json.load(f)
            table[str(inputs)] = sigs
            with open(workloads.SIGNATURES, "w") as f:
                json.dump(dict(sorted(table.items(), key=lambda kv: int(kv[0]))), f, indent=1)
                f.write("\n")
            print(inputs, sigs, flush=True)
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass


if __name__ == "__main__":
    main()
