"""Shipped ANN model configuration — the constants both the registry
queries (queries/extras.py) and the codebook trainer
(tools/train_codebooks.py) read.

Lives in its own import-light module so the trainer can read the target
shape WITHOUT importing queries/extras.py, whose fixed-codebook oracles
are built at import time from the CURRENT queries/codebooks.py — during
a retrain those two must be allowed to disagree for one run.

Config provenance (the recall, sweep and latency runs below are in git
history at 78bf83b): the r8 shape
(subs=4, sub_dim=16, k=8) read recall@10 = 0.135 flat in k — the binding
constraint was the sub-quantizer count. r9-r11 shipped 16 subspaces of
4 dims at k=64 codewords (96 bits/vector); a recall run showed
that codebook capping pure ADC at 0.415 recall@10 at the realistic
k=64-cell coarse index, leaving the exact re-rank load-bearing.

r12 (PQ sweep): swept pq_k→256, 32
sub-quantizers, and a fixed PCA-balanced (parametric-OPQ) rotation.
The rotation is a measured NEGATIVE on this corpus (isotropic by
construction — ADC 0.405→0.400); pq_k=256 at 16 subs reads 0.54 ADC in
the probe regime (just under the 0.6 target at 4/3 the bytes); 32
subspaces of 2 dims at k=64 is the winner: probe-ADC 0.64, composed
IVF-PQ+re-rank 0.915 at the same probed fraction — and the codebook
literal (32·64·2 floats) is exactly the size of the old 16·64·4.
Shipped config: 192 bits/vector (10.7x vs float32).

r13 (config latency run): the latency axis,
measured — the full pruned-probe plan at sf0.1 under both finalist
configs on identically-built layouts reads 2.09 s warm for 32x2x64 vs
3.00 s for 16x4x256 (ratio 0.70): the shipped config is FASTER as well
as +0.02 recall (256-codeword ADC tables mean wider element_at literals
per lookup, outweighing the halved sub count). The r12 1.36x
sim_topk_ivfpq_rerank_pruned slowdown was the move off the r11 16x4x64
books, not evidence for 16x256. Decision: KEEP 32x2x64.
"""

KMEANS_K = 8
NPROBE = 5
KMEANS_ITERS = 5
EMB_DIM = 64

PQ_SUBS = 32
PQ_SUB_DIM = 2
PQ_K = 64
PQ_ITERS = 3
RERANK = 100  # ADC-shortlist size for the exact re-rank stage

# Realistic-cell-count serving config (recall runs in git history at
# 78bf83b): at a coarse
# index where nprobe/k << 1 (k=64 cells on the sf1
# rotate-dup corpus), single-assignment IVF caps ivf_exact recall at
# 0.75 for nprobe/k = 0.25 — the corpus is isotropic, so a true
# neighbor's ONE cell is often unprobed. The shipped fix is ScaNN-style
# spilled assignment: store each vector in its SPILL nearest cells
# (spill=2 -> ivf_exact 0.915; composed IVF-PQ+rerank 0.915 at
# rerank=100 with the r12 32x2 codebook) at 2x
# the per-vector code bytes and the
# SAME probed fraction of stored rows. SPILL_NPROBE keeps the gate
# query's probe at the certified nprobe/k = 0.25 ratio against the
# fixture-scale KMEANS_K=8.
SPILL = 2
SPILL_NPROBE = 2
