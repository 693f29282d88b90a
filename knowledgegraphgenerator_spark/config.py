"""Pipeline constants.

Values mirror the reference's design constants (BASELINE.md):
- PHRASES_FREQ_THRESHOLD / UNIGRAM_FREQ_THRESHOLD: /root/reference/common.py:18-19
  (strict ``>`` comparisons: phrases survive at count >= 3, unigrams >= 6,
  /root/reference/strategy/phrase_finder.py:33-34)
- BOT_NAME synthetic root: /root/reference/common.py:20
- verb eligibility count >= 2 (break at count==1,
  /root/reference/strategy/NGramStrategy.py:92-94)
- optimiser collapse params: /root/reference/graph_optmiser/Optmiser.py:45
- analyzer config: /root/reference/analyzer/kg_export/config/config.py:1-5
"""

PHRASES_FREQ_THRESHOLD = 2
UNIGRAM_FREQ_THRESHOLD = 5
VERB_MIN_COUNT = 2
BOT_NAME = "Auto Ontology"
MASK_TOKEN = "~~~~"

# graph optimiser (sparse-node collapse)
OPTIMISER_NODE_LEVEL = 1
OPTIMISER_MAX_QUES = 2
# up to this many distinct paths the G1/G2 decision table is computed on
# the driver and broadcast back (operators/hierarchy.py); above it the
# table is built on the cluster
OPTIMISER_DRIVER_PATH_LIMIT = 100_000

# analyzer
PATH_COVERAGE = 50
QUESTIONS_AT_ROOT_LIMIT = 0
QUESTIONS_AT_ROOT_THRESHOLD = 50

# export JSON skeleton (reference: /root/reference/common.py:21-30)
JSON_TEMPLATE = {
    "question": "",
    "alternateQuestions": [],
    "terms": [],
    "tags": [],
    "refId": "",
    "responseType": "message",
    "answer": [],
    "alternateAnswers": [],
}

# word2vec synonym miner (reference: synonym_generator/syn_gen_with_kg_answers.py:45-48,64)
W2V_VECTOR_SIZE = 100
W2V_WINDOW = 5
W2V_MIN_COUNT = 1
W2V_TOP_N = 3

# Spark tuning defaults (local sandbox; scale notes in each operator)
DEFAULT_SHUFFLE_PARTITIONS = 32
ARROW_MAX_RECORDS_PER_BATCH = 2048
