"""Compare graft.Verify's Spark dumps against the DuckDB oracles.

usage: python3 tools/compare_oracle.py [SF_DIR] [VERIFY_OUT]

Each row prints its status, the DuckDB wall seconds of its oracle query
and the process's peak RSS so far (ru_maxrss), so a capture that dies
names its row. Exits 1 unless every row is HASH MATCH or ROWS_ONLY OK
and every oracle entry has a Spark dump.

SPARK_GRAFT_VERIFY_ONLY (comma-separated query names), read as
graft.Verify reads it, restricts the compare to those rows: a subset
Verify run is checked against the oracles of that subset only.
"""
import duckdb, json, glob, os, resource, sys, time
import pandas as pd

d = sys.argv[1] if len(sys.argv) > 1 else '/root/testdata/sf0.01'
out = sys.argv[2] if len(sys.argv) > 2 else '/tmp/verify_out'
con = duckdb.connect()
for t in ['region','nation','customer','supplier','part','orders','lineitem','events','documents','embeddings']:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")

oracle = json.load(open(f'{out}/oracle_sql.json'))
dumped = [p.rstrip('/').split('/')[-1] for p in sorted(glob.glob(f'{out}/*/'))]
only = os.environ.get('SPARK_GRAFT_VERIFY_ONLY')
if only is not None:
    only = {n.strip() for n in only.split(',') if n.strip()}
    oracle = {k: v for k, v in oracle.items() if k in only}
    dumped = [n for n in dumped if n in only]

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

def peak_mb():
    # ru_maxrss is in KiB on Linux
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024

bad = []
def report(qname, status, duck_s=0.0):
    print(f'{qname:24s} {status}  duck={duck_s:.2f}s peak_rss={peak_mb():.0f}MB', flush=True)
    if not (status.endswith('HASH MATCH') or status.endswith('ROWS_ONLY OK')):
        bad.append(qname)

for qname in dumped:
    spark_df = pd.read_parquet(f'{out}/{qname}')
    nrows = len(spark_df)
    if qname not in oracle:
        report(qname, f'rows={nrows:7d} ROWS_ONLY ' + ('OK' if nrows > 0 else 'EMPTY!!'))
        continue
    t0 = time.perf_counter()
    duck_df = con.sql(oracle[qname]).df()
    duck_s = time.perf_counter() - t0
    s, k = canon(spark_df), canon(duck_df)
    if list(s.columns) != list(k.columns):
        report(qname, f'SCHEMA MISMATCH spark={list(s.columns)} duck={list(k.columns)}', duck_s)
        continue
    if len(s) != len(k):
        report(qname, f'ROWCOUNT MISMATCH spark={len(s)} duck={len(k)}', duck_s)
        continue
    # value compare (stringified to mimic hashing)
    sa = s.astype(str); ka = k.astype(str)
    if sa.equals(ka):
        report(qname, f'rows={nrows:7d} HASH MATCH', duck_s)
    else:
        diff = (sa != ka).any(axis=1)
        report(qname, f'VALUE MISMATCH in {diff.sum()} rows', duck_s)
        for i in diff[diff].index[:3]:
            print('  spark:', dict(s.loc[i]))
            print('  duck :', dict(k.loc[i]))

# oracle entries whose Spark dump is MISSING (Verify swallowed the
# query's exception) must be loud, not silently skipped
for qname in sorted(set(oracle) - set(dumped)):
    report(qname, 'MISSING SPARK DUMP (query failed in Verify?)')

print(f'{len(bad)} of {len(set(dumped) | set(oracle))} rows failed' + (': ' + ' '.join(bad) if bad else ''))
sys.exit(1 if bad else 0)
