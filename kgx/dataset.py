"""Fine-tuning dataset construction: triples -> chat-JSONL with stratified splits.

Mirrors the reference's dataset-transform chain
(scripts/processing/project_detail_dataset_transform.py,
ghg_emission_reduction_dataset_transform.py):
- prompt assembly from (question, context/answer) pairs into
  {"messages": [{role, content} x 3]} rows (:19-28,44);
- stratified quota per predicate via row_number over a window
  (the head(n)-per-stratum logic of :123-241);
- deterministic shuffle (sample(frac=1, random_state=42) -> orderBy(rand(seed))
  :331-333) and split (train_test_split(random_state=42) -> randomSplit :104-107);
- JSONL sink (to_json(orient='records', lines=True) -> df.write.json :31-44).

All relational; the only nested type is the messages array<struct<role,content>>.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgx.config import QUESTION_MAPPING
from kgx.util import local_frame

# fields nullable: the cast in chat_rows carries column nullability, and a
# non-null target type is not a valid cast destination
MESSAGES = T.ArrayType(
    T.StructType(
        [
            T.StructField("role", T.StringType(), True),
            T.StructField("content", T.StringType(), True),
        ]
    )
)

SYSTEM_PROMPT = (
    "You are an assistant that extracts structured facts about carbon projects."
)


def question_dim(spark: SparkSession) -> DataFrame:
    """(pred, question) broadcast dimension (config/question_mapping.json)."""
    return local_frame(
        spark, list(QUESTION_MAPPING.items()), "pred string, question string"
    )


def chat_rows(triples: DataFrame, questions: DataFrame) -> DataFrame:
    """triples -> (subj, pred, messages) chat rows."""
    msg = F.array(
        F.struct(F.lit("system").alias("role"), F.lit(SYSTEM_PROMPT).alias("content")),
        F.struct(
            F.lit("user").alias("role"),
            F.concat(
                F.col("question"), F.lit(" [document: "), F.col("subj"), F.lit("]")
            ).alias("content"),
        ),
        F.struct(F.lit("assistant").alias("role"), F.col("obj").alias("content")),
    )
    return (
        triples.join(F.broadcast(questions), "pred")
        .select("subj", "pred", msg.cast(MESSAGES).alias("messages"))
    )


def stratified_quota(chat: DataFrame, per_pred: int, seed: int = 42) -> DataFrame:
    """Top-N rows per predicate stratum, deterministic order within stratum.

    The order must be TOTAL: (hash, subj) alone ties when a (pred, subj)
    pair carries several rows, and row_number would then cut the quota
    boundary by arbitrary partition order — run-to-run membership flips with
    the same seed. to_json(messages) is the content-bearing tiebreaker."""
    w = Window.partitionBy("pred").orderBy(
        F.xxhash64("subj", F.lit(seed)), "subj", F.to_json("messages")
    )
    return (
        chat.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= per_pred)
        .drop("_rn")
    )


def split_dataset(
    chat: DataFrame, weights=(0.8, 0.1, 0.1), seed: int = 42
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Deterministic shuffle + random split (reference seed semantics)."""
    shuffled = chat.orderBy(F.rand(seed))
    train, val, test = shuffled.randomSplit(list(weights), seed=seed)
    return train, val, test


def write_jsonl(df: DataFrame, path: str) -> None:
    """JSONL chat-dataset sink: one {"messages": [...]} object per line."""
    df.select("messages").write.mode("overwrite").json(path)


def read_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """JSONL source with the explicit messages schema (evaluation.py:48-49)."""
    schema = T.StructType([T.StructField("messages", MESSAGES, False)])
    return spark.read.schema(schema).json(path)


def build_datasets(
    spark: SparkSession,
    triples: DataFrame,
    out_dir: str,
    per_pred: int = 1000,
    seed: int = 42,
) -> dict[str, int]:
    """End-to-end: triples -> stratified chat splits -> JSONL files."""
    chat = chat_rows(triples, question_dim(spark))
    quota = stratified_quota(chat, per_pred, seed)
    train, val, test = split_dataset(quota, seed=seed)
    counts = {}
    for name, df in (("train", train), ("val", val), ("test", test)):
        write_jsonl(df, f"{out_dir}/{name}.jsonl")
        # read back with the explicit schema: a 0-row split (tiny corpora
        # regularly produce one via randomSplit) writes only _SUCCESS, and
        # schema INFERENCE on that directory raises instead of counting 0
        counts[name] = read_jsonl(spark, f"{out_dir}/{name}.jsonl").count()
    return counts
