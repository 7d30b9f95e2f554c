import time, sys, json
FIXTURE = sys.argv[1] if len(sys.argv) > 1 else "_bench/fixture300k"  # gen via jobs/gen_fixture.py
sys.path.insert(0, "/root/repo")
from mergeaddressesandbuildings_spark.session import get_spark
from mergeaddressesandbuildings_spark.operators import extract, spatial_join as sj
from mergeaddressesandbuildings_spark import config
from pyspark.sql import functions as F

res = {}
for rep in range(2):
    for cores in (4, 16):
        spark = get_spark(master=f"local[{cores}]", app_name=f"os{cores}", shuffle_partitions=64)
        spark.sparkContext.setLogLevel("ERROR")
        pages = spark.read.parquet(FIXTURE + "/pages").repartition(64).persist()
        pages.count()
        t = time.monotonic()
        records = extract.extract_records(pages, level=config.CELL_LEVEL).persist()
        n = records.count()
        res.setdefault(("extract", cores), []).append(time.monotonic() - t)
        addresses, buildings = extract.split_records(records)
        addresses = addresses.persist(); buildings = buildings.persist()
        addresses.count(); buildings.count()
        t = time.monotonic()
        pw = sj.pick_pip_winner(sj.pip_candidates(addresses, buildings))
        npw = pw.count()
        res.setdefault(("pip_pairjoin", cores), []).append(time.monotonic() - t)
        spark.stop()
out = {f"{k[0]}@{k[1]}": round(min(v), 1) for k, v in res.items()}
print(json.dumps(out))
