package graft.pipeline

/** SPI for classpath-discovered pipeline stages.
  *
  * The reference registers its stages through Java ServiceLoader
  * (ref: META-INF/services/ai.tripl.arc.plugins.PipelineStagePlugin:1-3 —
  * the jar drops in and its stage types become parseable with no code
  * change). This is the same mechanism for this engine: a third-party jar
  * lists implementations of this trait under
  * `META-INF/services/graft.pipeline.StagePlugin`, and [[Parser.parse]]
  * resolves their `stageType`s alongside the built-ins.
  *
  * Built-ins win on a type-name collision — [[Parser.defaultRegistry]] is
  * the contract; a plugin cannot silently replace `Extract`.
  */
trait StagePlugin {

  /** The config `type` discriminator this plugin handles. */
  def stageType: String

  /** Builds the stage from its config. The keys it reads through the
    * [[ConfigReader]], plus the common `type`/`name`/`environments`/
    * `connection`, are the stage's valid keys: [[Parser.parse]] rejects
    * any other key as an unknown option, exactly as for a built-in.
    */
  def factory: Parser.StageFactory
}
