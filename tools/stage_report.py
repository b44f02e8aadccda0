"""Summarize a Spark event log (v2 dir or file, plain or .zstd).

    python tools/stage_report.py /tmp/sparkevents          # per stage
    python tools/stage_report.py /tmp/sparkevents --jobs   # per job

The stage view prints per-stage span, CPU, shuffle and scan volume. The job
view prints one line per job in submission order: wall ms, task count,
executor CPU s, the driver gap since the previous job ended (time the
driver spent planning or committing between jobs) and the description
(the first submitted stage's name for a job without one)."""
import json, glob, collections, os, subprocess, sys
args = [a for a in sys.argv[1:] if not a.startswith('--')]
d = args[0] if args else '/tmp/sparkevents'
cand=[p for p in glob.glob(d+'/**',recursive=True) if os.path.isfile(p) and 'appstatus' not in p and not p.endswith('.crc')]
tasks=collections.defaultdict(list); stage_names={}
jobs={}; stage_job={}
def lines_of(p):
    if p.endswith('.zstd'):
        out=subprocess.run(['zstd','-dc',p],capture_output=True,text=True)
        return out.stdout.splitlines()
    return open(p, errors='ignore')
for f in cand:
    for line in lines_of(f):
        try: e=json.loads(line)
        except: continue
        if not isinstance(e, dict): continue
        ev=e.get('Event')
        if ev=='SparkListenerJobStart':
            desc=(e.get('Properties') or {}).get('spark.job.description','')
            jobs[e['Job ID']]={'submit':e.get('Submission Time',0),'end':None,'desc':desc,'stages':e.get('Stage IDs',[])}
            for sid in e.get('Stage IDs',[]):
                stage_job[sid]=e['Job ID']
                if desc: stage_names[sid]=desc
        elif ev=='SparkListenerJobEnd':
            if e['Job ID'] in jobs: jobs[e['Job ID']]['end']=e.get('Completion Time')
        elif ev=='SparkListenerStageSubmitted':
            si=e['Stage Info']; stage_names.setdefault(si['Stage ID'], si['Stage Name'])
        elif ev=='SparkListenerTaskEnd':
            ti=e['Task Info']; m=e.get('Task Metrics') or {}
            srm=m.get('Shuffle Read Metrics') or {}
            tasks[e['Stage ID']].append((ti['Launch Time'], ti['Finish Time'], m.get('Executor Run Time',0), m.get('JVM GC Time',0),
                (m.get('Shuffle Write Metrics') or {}).get('Shuffle Bytes Written',0),
                (m.get('Input Metrics') or {}).get('Bytes Read',0),
                m.get('Executor CPU Time',0)/1e9,
                srm.get('Fetch Wait Time',0),
                (m.get('Shuffle Write Metrics') or {}).get('Shuffle Write Time',0)/1e9,
                srm.get('Local Bytes Read',0)+srm.get('Remote Bytes Read',0)))
if not tasks:
    print("no tasks found"); sys.exit(0)
if '--jobs' in sys.argv[1:]:
    n=collections.Counter(); cpu=collections.Counter()
    for s, ts in tasks.items():
        j=stage_job.get(s)
        n[j]+=len(ts); cpu[j]+=sum(t[6] for t in ts)
    print(f"{'job':>5} {'wall_ms':>8} {'tasks':>6} {'cpu_s':>7} {'gap_ms':>7}  description")
    prev_end=None
    for j in sorted(jobs, key=lambda j: (jobs[j]['submit'], j)):
        r=jobs[j]
        wall=f"{r['end']-r['submit']:>8}" if r['end'] is not None else f"{'?':>8}"
        gap=f"{r['submit']-prev_end:>7}" if prev_end is not None else f"{'-':>7}"
        desc=r['desc'] or next((stage_names[s] for s in sorted(r['stages']) if s in stage_names), '')
        desc=' '.join(desc.split())
        print(f"{j:>5} {wall} {n[j]:>6} {cpu[j]:>7.2f} {gap}  {desc[:80]}")
        if r['end'] is not None: prev_end=max(prev_end or 0, r['end'])
    sys.exit(0)
t_min = min(min(t[0] for t in ts) for ts in tasks.values())
print(f"{'stage':>5} {'n':>4} {'start':>6} {'span_s':>7} {'run_s':>7} {'cpu_s':>7} {'gc_s':>5} {'fwait':>5} {'shWt':>5} {'shW_MB':>7} {'shR_MB':>7} {'rd_MB':>7}  name")
for s in sorted(tasks):
    ts=tasks[s]
    start=(min(t[0] for t in ts)-t_min)/1000
    span=(max(t[1] for t in ts)-min(t[0] for t in ts))/1000
    run=sum(t[2] for t in ts)/1000
    gc=sum(t[3] for t in ts)/1000
    sw=sum(t[4] for t in ts)/1e6
    br=sum(t[5] for t in ts)/1e6
    cpu=sum(t[6] for t in ts)
    fwait=sum(t[7] for t in ts)/1000
    shwt=sum(t[8] for t in ts)
    srb=sum(t[9] for t in ts)/1e6
    print(f"{s:>5} {len(ts):>4} {start:>6.0f} {span:>7.1f} {run:>7.1f} {cpu:>7.1f} {gc:>5.1f} {fwait:>5.1f} {shwt:>5.1f} {sw:>7.0f} {srb:>7.0f} {br:>7.0f}  {stage_names.get(s,'?')[:50]}")
